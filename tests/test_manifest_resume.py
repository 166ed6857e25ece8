"""Resumability: the snapshot is the unit of commit. A resume of a committed
snapshot evaluates nothing; a snapshot that no commit holds is run again in
full, whatever a crashed attempt left in its sinks (SURVEY.md §5 test plan
item 3)."""

from __future__ import annotations

import os

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


def _leaves(df):
    """The leaf nodes of the plan that computes ``df``: for a cached frame,
    the plan it caches."""
    plan = df._jdf.queryExecution().optimizedPlan()
    if plan.nodeName() == "InMemoryRelation":
        plan = plan.cachedPlan()
    leaves = plan.collectLeaves()
    return [leaves.apply(i).toString() for i in range(leaves.size())]


def _runs_no_rule(result):
    """Whether the verdicts and violations of ``result`` are computed from
    empty local relations only: the grid action scanned no input."""
    leaves = _leaves(result.verdicts) + _leaves(result.violations)
    return bool(leaves) and all(
        leaf.startswith("LocalTableScan <empty>") for leaf in leaves)


def test_full_run_then_noop(spark, docs, manifest):
    r1 = ValidationRun(spark, docs, _rules(), manifest=manifest, snapshot_id="s1").run()
    n1 = r1.verdicts.count()
    assert n1 == 8 * 2  # 8 partitions x 2 rules
    assert not _runs_no_rule(r1)
    commits = os.listdir(manifest.path)
    r2 = ValidationRun(spark, docs, _rules(), manifest=manifest, snapshot_id="s1").run()
    assert r2.verdicts.count() == 0
    assert r2.grid == []
    # a committed snapshot is complete: its plans fold to empty relations
    assert _runs_no_rule(r2)
    # nothing left to evaluate: nothing is committed, not even an empty set
    assert os.listdir(manifest.path) == commits
    # a new snapshot is fresh work
    r3 = ValidationRun(spark, docs, _rules(), manifest=manifest, snapshot_id="s2").run()
    assert r3.verdicts.count() == n1


def test_manifest_read_propagates_errors_other_than_absent_path(spark):
    """Only a manifest that was never committed reads as empty; any other
    read error must surface, or a resume silently re-evaluates everything."""
    with pytest.raises(Exception, match="nosuchfs"):
        RuleProgressManifest(spark, "nosuchfs://b/m").read().count()


def test_a_manifest_without_commits_reads_as_no_partitions(spark, tmp_path,
                                                          monkeypatch):
    """A manifest that was never committed reads as an empty frame with no
    partitions: a plan over it runs no task for it, so it starts no Python
    worker. It builds no parquet read either: once a session has used an
    Observation, Spark's listener re-analyses every query whose analysis
    failed and logs an error for it, so a read of a missing path must not be
    tried and caught."""
    from pyspark.sql import Observation
    from pyspark.sql.readwriter import DataFrameReader

    seen = Observation()
    spark.range(3).observe(seen, F.count("*").alias("n")).write.format(
        "noop").mode("overwrite").save()
    assert seen.get["n"] == 3

    reads, parquet = [], DataFrameReader.parquet

    def recorded(self, *paths, **kw):
        reads.extend(paths)
        return parquet(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", recorded)
    manifest = RuleProgressManifest(spark, str(tmp_path / "manifest"))
    empty = manifest.read()
    assert empty.count() == 0
    assert empty._jdf.rdd().getNumPartitions() == 0
    # a commit directory that holds no parquet file yet: no commit either
    (tmp_path / "manifest" / "commit-0").mkdir(parents=True)
    (tmp_path / "manifest" / "commit-0" / "_SUCCESS").touch()
    assert manifest.read().count() == 0
    assert reads == []


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


def test_main_resume_of_a_committed_snapshot_runs_no_rule(spark, main_args,
                                                         monkeypatch):
    """A --resume of a snapshot main has committed evaluates nothing: the
    grid action's plans are empty relations, and the run commits nothing."""
    import run_validation

    assert run_validation.main(main_args) == 0
    manifest = RuleProgressManifest(
        spark, main_args[main_args.index("--manifest") + 1])
    commits = os.listdir(manifest.path)
    run, noop = ValidationRun.run, []

    def recorded(self, *args, **kwargs):
        result = run(self, *args, **kwargs)
        noop.append(_runs_no_rule(result))  # before main releases the caches
        return result

    monkeypatch.setattr(ValidationRun, "run", recorded)
    assert run_validation.main(main_args + ["--resume"]) == 0
    assert noop == [True]
    assert os.listdir(manifest.path) == commits


def test_main_releases_its_caches(spark, main_args, monkeypatch):
    """main unpersists the violations and the verdict grid it cached: no
    RDD it persisted is still registered when it returns. (Compared by id,
    not by count: the registry holds RDDs weakly, so other tests' leftovers
    may be collected while main runs.)"""
    import run_validation

    def checkpoint(self, *args, **kwargs):
        raise AssertionError("main checkpoints no frame")

    # the session's own DataFrame class, which overrides the generic one's
    monkeypatch.setattr(type(spark.range(0)), "localCheckpoint", checkpoint)

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persisted()
    assert run_validation.main(main_args) == 0
    assert persisted() - before == set()
    # --diff-prev is read into a local relation before the verdicts sink is
    # overwritten, and leaves nothing persisted
    out = main_args[main_args.index("--output") + 1]
    assert run_validation.main(
        main_args + ["--diff-prev", f"{out}/verdicts"]) == 0
    assert persisted() - before == set()
    # so is --baseline-hist, on the preflight-only exit too
    assert run_validation.main(main_args + ["--emit-histograms"]) == 0
    for extra in ([], ["--preflight", "10", "--preflight-only"]):
        assert run_validation.main(main_args + [
            "--baseline-hist", f"{out}/span_kind_hist", *extra]) == 0
        assert persisted() - before == set()


def _rows(df, drop=()):
    """The rows of ``df`` as a multiset, without the columns ``drop``."""
    from collections import Counter

    return Counter(tuple(r) for r in df.drop(*drop).collect())


def test_diff_prev_may_name_this_runs_own_verdicts(spark, main_args, tmp_path):
    """A run whose --diff-prev is its own verdicts directory diffs against
    that directory as it was before the run overwrote it, and its report
    counts the statuses of the diff it wrote."""
    import json
    from collections import Counter

    import run_validation

    assert run_validation.main(main_args) == 0
    first = {(r["partition"], r["rule_id"]): r["pass"] for r in
             spark.read.parquet(str(tmp_path / "out" / "verdicts")).collect()}
    contract = tmp_path / "contract.json"
    contract.write_text(json.dumps([["bogus_col", "int"]]))
    assert run_validation.main(main_args + [
        "--snapshot-id", "s2", "--expect-schema", str(contract),
        "--diff-prev", str(tmp_path / "out" / "verdicts"),
        "--report-json", str(tmp_path / "report.json")]) == 0
    diff = {(r["partition"], r["rule_id"]): r["status"] for r in
            spark.read.parquet(str(tmp_path / "out" / "verdict_diff")).collect()}
    report = json.loads((tmp_path / "report.json").read_text())
    assert report["verdict_diff"] == dict(Counter(diff.values()))
    # schema_match was not in the first grid and fails everywhere now
    schema = {k: v for k, v in diff.items() if k[1] == "schema_match"}
    assert schema and set(schema.values()) == {"new_failure"}
    # the same input gives every pair of the first grid its old verdict
    assert {k: v for k, v in diff.items() if k[1] != "schema_match"} == {
        k: "still_passing" if ok else "still_failing"
        for k, ok in first.items()}


def test_a_failed_report_commits_nothing(spark, main_args, tmp_path,
                                         monkeypatch):
    """The report is written before the manifest commit: a run whose report
    fails commits nothing, so the --resume that follows runs the snapshot
    in full and writes the report a clean run writes (not the report of
    the empty grid of a committed snapshot)."""
    import json

    import run_validation
    from anomaly_detection_spark import history

    def failing(*args, **kwargs):
        raise RuntimeError("injected report failure")

    report = tmp_path / "report.json"
    monkeypatch.setattr(history, "violation_trends", failing)
    with pytest.raises(RuntimeError, match="injected report failure"):
        run_validation.main(main_args + ["--report-json", str(report)])
    assert RuleProgressManifest(
        spark, str(tmp_path / "manifest")).read().count() == 0

    monkeypatch.undo()
    assert run_validation.main(
        main_args + ["--report-json", str(report), "--resume"]) == 0
    clean = tmp_path / "clean"
    assert run_validation.main(main_args + [
        "--output", str(clean / "out"), "--manifest", str(clean / "manifest"),
        "--report-json", str(clean / "report.json")]) == 0
    resumed = json.loads(report.read_text())
    assert resumed["failing_pairs"] > 0
    assert resumed == json.loads((clean / "report.json").read_text())


def test_the_reports_trends_are_those_of_the_committed_history(
        spark, main_args, tmp_path):
    """The trends of a run's report, collected beside its sink writes, are
    the trends of the manifest history that its commit leaves."""
    import json

    import run_validation
    from anomaly_detection_spark.history import violation_trends

    report = tmp_path / "report.json"
    for sid in ("s1", "s2", "s3"):
        assert run_validation.main(main_args + [
            "--snapshot-id", sid, "--report-json", str(report)]) == 0
    trends = json.loads(report.read_text())["trends"]
    committed = violation_trends(
        RuleProgressManifest(spark, str(tmp_path / "manifest")).read())
    assert trends
    assert trends == [r.asDict() for r in
                      committed.orderBy("partition", "rule_id").collect()]


def test_main_builds_its_fixed_suite_once_per_process(spark, main_args,
                                                      tmp_path, monkeypatch):
    """A second main in the same process reuses the fixed suite the first
    one built, calls no rule builder, and writes the same verdicts and
    violations."""
    import run_validation
    from anomaly_detection_spark.rules import builtin

    builders = ("default_document_rules", "no_pii", "span_sequence_valid_row",
                "unique", "referential")
    calls = {name: 0 for name in builders}

    def counted(name, build):
        def call(*args, **kwargs):
            calls[name] += 1
            return build(*args, **kwargs)
        return call

    for name in builders:
        monkeypatch.setattr(builtin, name, counted(name, getattr(builtin, name)))
    run_validation.fixed_rules.cache_clear()
    out, runs = tmp_path / "out", []
    try:
        for _ in range(2):
            assert run_validation.main(main_args) == 0
            runs.append([_rows(spark.read.parquet(str(out / name)))
                         for name in ("verdicts", "violations")])
    finally:
        run_validation.fixed_rules.cache_clear()
    assert calls == {name: 1 for name in builders}
    assert runs[0] == runs[1]


def test_main_reads_its_own_sinks_back_with_their_schema(spark, main_args,
                                                         tmp_path,
                                                         monkeypatch):
    """Every read-back of a sink this run wrote under --output (the verdicts
    for the diff, the violations for the CSV export, quarantine,
    co-occurrence and slices) carries the sink's schema, and so does the
    --diff-prev read, so no read starts a schema-inference job. The report
    reads nothing back: it counts the diff as the diff is written."""
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
    assert sorted(p for p, _ in own) == ["verdicts"] + ["violations"] * 4
    assert all(has for _, has in own), own
    assert [(p, has) for p, has in reads if p == prev] == [(prev, True)]


def test_a_diff_prev_without_files_is_an_error(main_args, tmp_path):
    """A --diff-prev directory that holds no verdict files (a write that
    never landed) fails the run instead of reading as an empty grid, which
    would mark every failing pair a new failure."""
    import run_validation

    prev = tmp_path / "prev"
    prev.mkdir()
    (prev / "_SUCCESS").touch()
    with pytest.raises(FileNotFoundError, match="no verdicts files"):
        run_validation.main(main_args + ["--diff-prev", str(prev)])
    assert not (tmp_path / "manifest").exists()  # nothing committed


@pytest.fixture(scope="module")
def snapshot_inputs(spark, docs, catalog, tmp_path_factory):
    """The fixture docs read whole (``full``, snapshot s1) and as the
    increment s2 of a snapshot log whose s1 holds p0..p3 (``incremental``),
    each as the leading arguments of ``main``; and a --diff-prev verdicts
    dir."""
    from anomaly_detection_spark.engine import VERDICTS_SCHEMA
    from anomaly_detection_spark.snapshots import SnapshotLog

    root = tmp_path_factory.mktemp("snapshot_inputs")
    docs.write.parquet(str(root / "docs"))
    catalog.write.parquet(str(root / "catalog"))
    log = SnapshotLog(spark, str(root / "log"))
    first = F.col("partition").isin("p0", "p1", "p2", "p3")
    log.append(docs.filter(first), "s1")
    log.append(docs.filter(~first), "s2")
    prev = str(root / "prev")
    spark.createDataFrame([("p4", "not_null:doc_id", False, 3, 10)],
                          VERDICTS_SCHEMA).write.parquet(prev)
    catalog_args = ["--catalog", str(root / "catalog")]
    return {
        "full": ["--input", str(root / "docs"), "--snapshot-id", "s1",
                 *catalog_args],
        "incremental": ["--input", str(root / "log"), "--format", "snaplog",
                        "--iceberg-snapshot-id", "s2",
                        "--incremental-from", "s1", "--snapshot-id", "s2",
                        *catalog_args],
        "prev": prev,
    }


@pytest.fixture(scope="module")
def failure_runs(snapshot_inputs, tmp_path_factory):
    """``argv(mode, name)``: main's arguments for a run of ``mode`` under
    ``{root}/{mode}/{name}`` with --diff-prev, --emit-histograms and
    --export-csv; and a clean run of each mode, under ``clean``."""
    import run_validation

    root = tmp_path_factory.mktemp("failure_runs")

    def argv(mode, name, *extra):
        out = root / mode / name
        return snapshot_inputs[mode] + [
            "--output", str(out / "out"), "--manifest", str(out / "manifest"),
            "--diff-prev", snapshot_inputs["prev"], "--emit-histograms",
            "--export-csv", str(out / "csv"), *extra]

    for mode in ("full", "incremental"):
        assert run_validation.main(argv(mode, "clean")) == 0
    return root, argv


def _committed(path):
    """Whether a Spark job committed output under ``path``: its _SUCCESS
    marker, or a data file in a partition subdir (a dynamic partition
    overwrite leaves no marker)."""
    return (path / "_SUCCESS").exists() or any(path.glob("*=*/part-*"))


# the outputs a failure of the named step leaves uncommitted: its own torn
# write, and what its branch writes after it
_LATER_IN_BRANCH = {"violations": {"csv"}, "verdicts": {"out/verdict_diff"},
                    "torn_violations": {"out/violations", "csv"}}


def _files(root):
    """Every file of the three sinks and the manifest under ``root``, with
    its mtime."""
    return {os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
            for top in ("out/violations", "out/verdicts", "out/metrics",
                        "manifest")
            for d, _, fs in os.walk(root / top) for f in fs}


@pytest.mark.parametrize("mode", ["full", "incremental"])
@pytest.mark.parametrize("step", ["violations", "verdicts", "metrics",
                                  "verdict_diff", "span_kind_hist",
                                  "torn_violations", "manifest"])
def test_a_failed_branch_lets_the_others_finish_and_commits_nothing(
        spark, failure_runs, monkeypatch, step, mode):
    """The write of one output lands and then raises: main re-raises it only
    after every other branch has finished, commits nothing to the manifest,
    and a --resume rerun, which runs the snapshot again in full, leaves
    every sink equal to a clean run's. So does a violations write torn
    inside its job commit (part files of some pairs land, _SUCCESS does
    not). A raise after the manifest commit has landed leaves the snapshot
    committed: the --resume is then a no-op that leaves every sink and
    manifest file as it is."""
    import threading
    import time

    import run_validation
    from pyspark.sql.readwriter import DataFrameWriter

    root, argv = failure_runs
    parquet = DataFrameWriter.parquet

    def failing(self, path, *args, **kwargs):
        if step == "torn_violations" and path.endswith("/violations"):
            parquet(self._df.filter(F.col("partition").isin(
                "p0", "p1", "p4", "p5")).write.mode("overwrite"), path)
            os.remove(os.path.join(path, "_SUCCESS"))
            raise RuntimeError(f"injected failure after writing {step}")
        parquet(self, path, *args, **kwargs)
        written = "manifest" if "/manifest/commit-" in path \
            else path.rsplit("/", 1)[-1]
        if written == step:
            raise RuntimeError(f"injected failure after writing {step}")

    cluster = run_validation.cluster_violations

    def slow_cluster(df):
        time.sleep(1)  # the violations branch ends after the other branches
        return cluster(df)

    monkeypatch.setattr(DataFrameWriter, "parquet", failing)
    monkeypatch.setattr(run_validation, "cluster_violations", slow_cluster)
    threads = set(threading.enumerate())
    name = f"crashed-{step}"
    with pytest.raises(RuntimeError, match=f"injected failure after writing {step}"):
        run_validation.main(argv(mode, name))
    assert set(threading.enumerate()) - threads == set()
    crashed, clean = root / mode / name, root / mode / "clean"
    for done in {"out/violations", "out/verdicts", "out/metrics",
                 "out/verdict_diff", "out/span_kind_hist", "csv"} \
            - _LATER_IN_BRANCH.get(step, set()):
        assert _committed(crashed / done), done
    if step == "torn_violations":
        assert any((crashed / "out" / "violations").glob("part-*.parquet"))
    manifest = RuleProgressManifest(spark, str(crashed / "manifest"))
    assert (manifest.read().count() > 0) == (step == "manifest")
    before = _files(crashed)

    monkeypatch.undo()
    assert run_validation.main(argv(mode, name, "--resume")) == 0
    if step == "manifest":
        assert _files(crashed) == before
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


def test_histograms_are_written_through_spark(spark, snapshot_inputs, docs,
                                              tmp_path):
    """--emit-histograms writes through the Spark writer, so a file:// output
    works: a full scan replaces every snapshot subdir with its own, and an
    incremental scan replaces only its own, on every retry."""
    import run_validation
    from anomaly_detection_spark import drift

    out = tmp_path / "out"
    hist = out / "span_kind_hist"

    def subdirs():
        return {name: _rows(spark.read.parquet(str(hist / name)))
                for name in os.listdir(hist) if name.startswith("snapshot=")}

    def expected(frame):
        return _rows(drift.span_kind_histogram(frame, "partition"))

    drift.span_kind_histogram(docs, "partition").write.parquet(
        str(hist / "snapshot=s0"))  # an earlier run's histogram
    assert run_validation.main(snapshot_inputs["full"] + [
        "--output", f"file://{out}", "--emit-histograms"]) == 0
    assert subdirs() == {"snapshot=s1": expected(docs)}
    appended = expected(docs.filter(~F.col("partition").isin(
        "p0", "p1", "p2", "p3")))
    for _ in range(2):
        assert run_validation.main(snapshot_inputs["incremental"] + [
            "--output", str(out), "--emit-histograms"]) == 0
        assert subdirs() == {"snapshot=s1": expected(docs),
                             "snapshot=s2": appended}


def _check_drift_against_own_histogram_store(spark, docs, main_args,
                                             tmp_path, monkeypatch, order):
    """Run ``main`` with --emit-histograms and --baseline-hist naming its own
    {output}/span_kind_hist, which holds a drifted baseline, with the
    histogram write ordered against the grid action by ``order`` (patched
    ``ValidationRun.run`` / ``start_branch``). The run's drift verdicts must
    be those against the baseline as it was when the run started, in the
    grid, the three grid sinks and the manifest alike."""
    import re
    from collections import Counter

    import run_validation
    from anomaly_detection_spark import drift

    # a baseline with every span of a partition in one kind: PSI flags drift
    drift.span_kind_histogram(docs, "partition").groupBy("partition").agg(
        F.min("bin").alias("bin"), F.sum("count").alias("count"),
    ).write.parquet(str(tmp_path / "out" / "span_kind_hist" / "snapshot=s0"))
    results = []
    order(monkeypatch, results)
    assert run_validation.main(main_args + [
        "--emit-histograms",
        "--baseline-hist", str(tmp_path / "out" / "span_kind_hist")]) == 0

    cols = ("partition", "rule_id", "violation_count", "rows_scanned")
    psi = F.col("rule_id") == "drift_psi:span_kind"

    def verdicts(df):
        return _rows(df.filter(psi).select(*cols))

    # the grid plan reads the baseline from a local relation, not from the
    # files of the store
    plan = "\n".join(_leaves(results[0].verdicts))
    assert re.search(r"LocalTableScan \[partition#\d+, bin#\d+, count#", plan)
    assert "span_kind_hist" not in plan
    grid = Counter(tuple(r[c] for c in cols) for r in results[0].grid
                   if r["rule_id"] == "drift_psi:span_kind")
    assert sum(grid.values()) == 8
    assert any(key[2] for key in grid)  # drift against the stored baseline
    assert verdicts(spark.read.parquet(str(tmp_path / "out" / "verdicts"))) \
        == grid
    assert verdicts(spark.read.parquet(str(tmp_path / "out" / "metrics"))) \
        == grid
    assert verdicts(RuleProgressManifest(
        spark, str(tmp_path / "manifest")).read()) == grid
    assert spark.read.parquet(str(tmp_path / "out" / "violations")).filter(
        psi).count() == sum(n * key[2] for key, n in grid.items())


def test_a_baseline_histogram_under_output_is_read_before_it_is_rewritten(
        spark, docs, main_args, tmp_path, monkeypatch):
    """The histogram write ends before the grid action starts: the baseline
    files it deleted were read before the write."""
    import time

    def order(monkeypatch, results):
        run = ValidationRun.run

        def late_run(self, *args, **kwargs):
            time.sleep(3)  # a histogram branch started beside it ends first
            results.append(run(self, *args, **kwargs))
            return results[-1]

        monkeypatch.setattr(ValidationRun, "run", late_run)

    _check_drift_against_own_histogram_store(
        spark, docs, main_args, tmp_path, monkeypatch, order)


def test_a_histogram_write_after_the_grid_action_keeps_its_drift_verdicts(
        spark, docs, main_args, tmp_path, monkeypatch):
    """The histogram write starts once the grid action has cached its
    frames: the write must not re-cache them against the new histogram."""
    import threading

    import run_validation

    def order(monkeypatch, results):
        run, start = ValidationRun.run, run_validation.start_branch
        grid_done = threading.Event()

        def recorded_run(self, *args, **kwargs):
            results.append(run(self, *args, **kwargs))
            grid_done.set()
            return results[-1]

        monkeypatch.setattr(ValidationRun, "run", recorded_run)
        monkeypatch.setattr(
            run_validation, "start_branch", lambda pool, spark, steps: start(
                pool, spark, [grid_done.wait, *steps]))

    _check_drift_against_own_histogram_store(
        spark, docs, main_args, tmp_path, monkeypatch, order)


def test_a_baseline_histogram_store_without_files_is_an_error(main_args,
                                                              tmp_path):
    """An empty --baseline-hist store (a histogram write that never landed)
    fails the run instead of standing in as an empty baseline."""
    import run_validation

    store = tmp_path / "hist"
    store.mkdir()
    (store / "_SUCCESS").touch()
    with pytest.raises(FileNotFoundError, match="no histogram files"):
        run_validation.main(main_args + ["--baseline-hist", str(store)])
    assert not (tmp_path / "out").exists()


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
