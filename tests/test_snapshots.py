"""Snapshot-log execution evidence for the flagship snapshot-batch contract:
time travel, appends-only incremental reads, crash-safe commits, and verdict
parity between the snapshot path and a plain-parquet run — the semantics the
``--format iceberg`` branch encodes, executed via the jar-free ``snaplog``
twin (the sandbox has no network to vendor the Iceberg runtime; both formats
share ``snapshots.read_table``)."""

from __future__ import annotations

import os
import shutil
import subprocess
import tempfile
import zipfile

import pytest
from pyspark.sql import functions as F

from anomaly_detection_spark.datagen import (
    generate_documents,
    generate_media_catalog,
)
from anomaly_detection_spark.engine import ValidationRun
from anomaly_detection_spark.rules import builtin
from anomaly_detection_spark.rules.core import RuleSet
from anomaly_detection_spark.snapshots import SnapshotLog, read_table

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def log_root(tmp_path):
    return str(tmp_path / "snaplog")


def _ids(df):
    # planted defects include NULL doc_ids — sort those first
    return sorted(
        (r[0] for r in df.select("doc_id").collect()),
        key=lambda x: (x is not None, x or ""),
    )


# ---------------------------------------------------------------- metadata


def test_append_read_time_travel_incremental(spark, log_root):
    log = SnapshotLog(spark, log_root)
    a = spark.createDataFrame([("a1",), ("a2,",)], "doc_id string")
    b = spark.createDataFrame([("b1",)], "doc_id string")
    c = spark.createDataFrame([("c1",), ("c2",)], "doc_id string")
    s1 = log.append(a, "s1")
    s2 = log.append(b, "s2")
    s3 = log.append(c)  # auto id
    assert (s1, s2, s3) == ("s1", "s2", "s3")
    assert log.current_snapshot_id() == "s3"

    assert _ids(log.read()) == _ids(a.union(b).union(c))
    assert _ids(log.read("s1")) == _ids(a)  # time travel
    assert _ids(log.read("s2")) == _ids(a.union(b))
    # incremental: start exclusive, end inclusive (Iceberg contract)
    assert _ids(log.read_incremental("s1")) == _ids(b.union(c))
    assert _ids(log.read_incremental("s1", "s2")) == _ids(b)
    assert _ids(log.read_incremental("s2", "s3")) == _ids(c)



def test_reads_resolve_from_one_log_listing(spark, log_root, monkeypatch):
    """``read`` and ``read_incremental`` resolve both ends of their range
    from ONE listing of the log, not one per snapshot id."""
    log = SnapshotLog(spark, log_root)
    for sid in ("s1", "s2", "s3"):
        log.append(spark.createDataFrame([(sid,)], "doc_id string"), sid)
    calls = []
    listing = SnapshotLog.snapshots

    def counted(self):
        calls.append(1)
        return listing(self)

    monkeypatch.setattr(SnapshotLog, "snapshots", counted)
    assert _ids(log.read("s2")) == ["s1", "s2"]
    assert len(calls) == 1
    calls.clear()
    assert _ids(log.read_incremental("s1", "s3")) == ["s2", "s3"]
    assert len(calls) == 1

def test_duplicate_snapshot_id_rejected(spark, log_root):
    log = SnapshotLog(spark, log_root)
    log.append(spark.range(1).select(F.lit("x").alias("doc_id")), "s1")
    with pytest.raises(ValueError, match="already committed"):
        log.append(spark.range(1).select(F.lit("y").alias("doc_id")), "s1")


def test_unknown_snapshot_and_empty_log_raise(spark, log_root):
    log = SnapshotLog(spark, log_root)
    with pytest.raises(ValueError, match="no committed snapshots"):
        log.read()
    log.append(spark.range(1).select(F.lit("x").alias("doc_id")), "s1")
    with pytest.raises(ValueError, match="unknown snapshot"):
        log.read("nope")


def test_orphan_data_dir_is_invisible(spark, log_root):
    """Data-first/metadata-last: a fileset written without its log entry
    (crash between the two) must never be read."""
    log = SnapshotLog(spark, log_root)
    log.append(spark.createDataFrame([("a1",)], "doc_id string"), "s1")
    orphan = os.path.join(log_root, "data", "99999999-deadbeef")
    spark.createDataFrame([("ghost",)], "doc_id string").write.parquet(orphan)
    assert _ids(log.read()) == ["a1"]


def test_plain_parquet_rejects_snapshot_options(spark, tmp_path):
    p = str(tmp_path / "plain")
    spark.createDataFrame([("a",)], "doc_id string").write.parquet(p)
    with pytest.raises(ValueError, match="no snapshot log"):
        read_table(spark, p, "parquet", snapshot_id="s1")
    with pytest.raises(ValueError, match="no snapshot log"):
        read_table(spark, p, "parquet", incremental_from="s1")
    assert _ids(read_table(spark, p, "parquet")) == ["a"]


# ------------------------------------------------------- validation parity


def _suite():
    return RuleSet(
        row_rules=builtin.default_document_rules()
        + [builtin.span_sequence_valid_row()],
        dataset_rules=[builtin.unique("doc_id"), builtin.referential()],
    )


def _grid(result):
    return sorted(
        (r["partition"], r["rule_id"], r["pass"], r["violation_count"])
        for r in result.verdicts.collect()
    )


def test_snapshot_run_matches_parquet_run(spark, log_root, tmp_path):
    """The full contract in one place: clean snapshot validates clean under
    time travel; the incremental scan sees exactly the appended rows; the
    full snapshot run is verdict-identical to a plain-parquet run of the
    same row set."""
    clean = generate_documents(
        spark, n_docs=400, n_partitions=4, n_media=200,
        plant_defects=False, drift_last_partition=False,
    )
    # second batch: planted defects, ids uniquified vs batch 1 (NULL doc_ids
    # survive the concat as NULL — still a not_null violation)
    dirty = generate_documents(
        spark, n_docs=400, n_partitions=4, n_media=200, plant_defects=True,
    ).withColumn("doc_id", F.concat(F.lit("x"), F.col("doc_id")))
    catalog = generate_media_catalog(spark, n_media=200)

    log = SnapshotLog(spark, log_root)
    log.append(clean, "s1")
    log.append(dirty, "s2")

    # time travel to the clean snapshot: zero failing pairs
    r1 = ValidationRun(
        spark, read_table(spark, log_root, "snaplog", snapshot_id="s1"),
        _suite(), media_catalog=catalog,
    ).run(resume=False)
    assert r1.verdicts.filter("NOT pass").count() == 0

    # incremental s1 -> latest: sees exactly the appended rows, and its
    # violations equal validating the dirty batch alone
    inc_docs = read_table(spark, log_root, "snaplog", incremental_from="s1")
    assert _ids(inc_docs) == _ids(dirty)
    r_inc = ValidationRun(
        spark, inc_docs, _suite(), media_catalog=catalog,
    ).run(resume=False)
    r_dirty = ValidationRun(
        spark, dirty, _suite(), media_catalog=catalog,
    ).run(resume=False)
    assert _grid(r_inc) == _grid(r_dirty)
    assert r_inc.verdicts.filter("NOT pass").count() > 0

    # full snapshot state == plain parquet of the same rows, verdict parity
    pq = str(tmp_path / "all_rows")
    clean.unionByName(dirty).write.parquet(pq)
    r_snap = ValidationRun(
        spark, read_table(spark, log_root, "snaplog"),
        _suite(), media_catalog=catalog,
    ).run(resume=False)
    r_plain = ValidationRun(
        spark, spark.read.parquet(pq), _suite(), media_catalog=catalog,
    ).run(resume=False)
    assert _grid(r_snap) == _grid(r_plain)


# ------------------------------------------------------------ CLI e2e


spark_submit = shutil.which("spark-submit")


def _build_engine_zip(base: str) -> str:
    zip_path = f"{base}/engine.zip"
    with zipfile.ZipFile(zip_path, "w") as zf:
        pkg = os.path.join(REPO, "anomaly_detection_spark")
        for root, _, files in os.walk(pkg):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    zf.write(full, os.path.relpath(full, REPO))
    return zip_path


@pytest.mark.skipif(spark_submit is None, reason="spark-submit not on PATH")
def test_spark_submit_snaplog_time_travel_and_incremental(spark):
    """run_validation.py --format snaplog end-to-end under spark-submit:
    pinned time travel validates the clean snapshot green; the incremental
    run validates only the appended (defective) rows and fails; drift rules
    run against a pinned baseline snapshot of the same log."""
    base = tempfile.mkdtemp(prefix="snaplog_")
    try:
        clean = generate_documents(
            spark, n_docs=300, n_partitions=3, n_media=200,
            plant_defects=False, drift_last_partition=False,
        )
        dirty = generate_documents(
            spark, n_docs=300, n_partitions=3, n_media=200,
            plant_defects=True,
        ).withColumn("doc_id", F.concat(F.lit("x"), F.col("doc_id")))
        generate_media_catalog(spark, n_media=200).write.parquet(
            f"{base}/catalog"
        )
        n_dirty = dirty.count()
        log = SnapshotLog(spark, f"{base}/docs_log")
        log.append(clean, "s1")
        log.append(dirty, "s2")

        zip_path = _build_engine_zip(base)
        env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="2g")
        common = [
            spark_submit, "--master", "local[2]", "--py-files", zip_path,
            os.path.join(REPO, "run_validation.py"),
            "--input", f"{base}/docs_log", "--catalog", f"{base}/catalog",
            "--format", "snaplog",
        ]

        # time travel: validate the table AS OF s1 (clean)
        first = subprocess.run(
            common + ["--iceberg-snapshot-id", "s1",
                      "--output", f"{base}/out_s1", "--snapshot-id", "s1"],
            capture_output=True, text=True, timeout=600, env=env, cwd=base,
        )
        assert first.returncode == 0, first.stderr[-2000:]
        assert "failing_pairs=0" in first.stdout

        # incremental: appended rows only, with drift rules vs the pinned
        # s1 baseline of the SAME log
        second = subprocess.run(
            common + ["--incremental-from", "s1",
                      "--baseline", f"{base}/docs_log",
                      "--baseline-snapshot-id", "s1",
                      "--output", f"{base}/out_inc", "--snapshot-id", "s2"],
            capture_output=True, text=True, timeout=600, env=env, cwd=base,
        )
        assert second.returncode == 0, second.stderr[-2000:]
        line = [ln for ln in second.stdout.splitlines()
                if "VALIDATION_DONE" in ln][0]
        assert int(line.rsplit("=", 1)[1]) > 0  # planted defects fail

        import duckdb

        # the incremental run scanned exactly the appended batch
        scanned = duckdb.sql(
            f"SELECT sum(rows_scanned) FROM '{base}/out_inc/metrics/*.parquet' "
            "WHERE rule_id = 'not_null:doc_id'"
        ).fetchone()[0]
        assert scanned == n_dirty
        # drift rules ran against the pinned baseline snapshot
        drift_rules = {
            r[0] for r in duckdb.sql(
                f"SELECT DISTINCT rule_id FROM '{base}/out_inc/verdicts/*.parquet' "
                "WHERE rule_id LIKE 'drift%'"
            ).fetchall()
        }
        assert "drift_psi:span_kind" in drift_rules
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------
# Iceberg delegation seam: pin the option contract without the jar
# ---------------------------------------------------------------------

class _RecordingReader:
    """Stands in for spark.read: records option() calls and the table()
    target so the test pins exactly what the genuine Iceberg runtime would
    receive (public Iceberg Spark source contract: snapshot-id,
    start-snapshot-id exclusive, end-snapshot-id inclusive)."""

    def __init__(self, calls):
        self.calls = calls

    def option(self, key, value):
        self.calls["options"].append((key, value))
        return self

    def table(self, name):
        self.calls["table"] = name
        return "SENTINEL_DF"


class _FakeSparkForIceberg:
    def __init__(self):
        self.calls = {"options": [], "table": None}

    @property
    def read(self):
        return _RecordingReader(self.calls)


def test_iceberg_seam_option_contract():
    from anomaly_detection_spark.snapshots import read_table

    # 1. pinned snapshot read -> exactly one option: snapshot-id
    fake = _FakeSparkForIceberg()
    out = read_table(fake, "cat.db.docs", fmt="iceberg", snapshot_id="9127")
    assert out == "SENTINEL_DF"
    assert fake.calls["table"] == "cat.db.docs"
    assert fake.calls["options"] == [("snapshot-id", "9127")]

    # 2. bounded incremental read -> start (exclusive) + end (inclusive)
    fake = _FakeSparkForIceberg()
    read_table(fake, "cat.db.docs", fmt="iceberg",
               snapshot_id="9127", incremental_from="9001")
    assert fake.calls["options"] == [
        ("start-snapshot-id", "9001"), ("end-snapshot-id", "9127")]

    # 3. open-ended incremental read -> start only
    fake = _FakeSparkForIceberg()
    read_table(fake, "cat.db.docs", fmt="iceberg", incremental_from="9001")
    assert fake.calls["options"] == [("start-snapshot-id", "9001")]

    # 4. latest-snapshot read -> no options at all
    fake = _FakeSparkForIceberg()
    read_table(fake, "cat.db.docs", fmt="iceberg")
    assert fake.calls["options"] == []
    assert fake.calls["table"] == "cat.db.docs"


def test_plain_parquet_rejects_snapshot_options():
    from anomaly_detection_spark.snapshots import read_table

    fake = _FakeSparkForIceberg()
    with pytest.raises(ValueError, match="snapshot"):
        read_table(fake, "/some/path", fmt="parquet", snapshot_id="s1")
    with pytest.raises(ValueError, match="snapshot"):
        read_table(fake, "/some/path", fmt="parquet", incremental_from="s0")
