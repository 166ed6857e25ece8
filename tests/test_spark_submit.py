"""Deployment-shape test: the engine runs under ``spark-submit --py-files``
(the north-rule cluster deployment), producing verdict/violation/metric
parquet and an idempotent resume."""

from __future__ import annotations

import os
import shutil
import subprocess
import tempfile
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

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


class _Builder:
    """Stands in for ``SparkSession.builder``: records the master and the
    conf that ``get_spark`` asks for, and starts no JVM."""

    def __init__(self):
        self.master_url, self.conf = None, {}

    def appName(self, name):
        return self

    def master(self, url):
        self.master_url = url
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self


def test_an_unconfigured_session_is_sized_from_the_host(monkeypatch):
    """Without SPARK_GRAFT_CPUS and SPARK_GRAFT_DRIVER_MEM, a session that
    get_spark creates runs on this process's cores with a quarter of the
    host's physical memory as its heap; either variable overrides."""
    from pyspark.sql import SparkSession

    from anomaly_detection_spark.session import get_spark

    monkeypatch.setattr(SparkSession, "getActiveSession", lambda: None)
    for var in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM",
                "PYSPARK_GATEWAY_PORT", "SPARK_MASTER"):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setattr(SparkSession, "builder", _Builder())
    built = get_spark()
    host_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    assert built.master_url == f"local[{len(os.sched_getaffinity(0))}]"
    assert built.conf["spark.driver.memory"] == f"{host_mb // 4}m"

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    monkeypatch.setattr(SparkSession, "builder", _Builder())
    built = get_spark()
    assert built.master_url == "local[3]"
    assert built.conf["spark.driver.memory"] == "2g"
    # no Python call-site capture on every Column function call
    assert built.conf["spark.python.sql.dataFrameDebugging.enabled"] == "false"

    # a session the caller already built keeps its own conf
    active, builder = object(), _Builder()
    monkeypatch.setattr(SparkSession, "getActiveSession", lambda: active)
    monkeypatch.setattr(SparkSession, "builder", builder)
    assert get_spark() is active
    assert builder.conf == {} and builder.master_url is None


@pytest.mark.skipif(spark_submit is None, reason="spark-submit not on PATH")
def test_spark_submit_master_is_respected():
    """get_spark() must NOT override the master provided by spark-submit:
    builder .master() wins over spark-submit conf, and SparkConf() is a plain
    dict before the JVM exists, so the factory detects spark-submit via
    PYSPARK_GATEWAY_PORT instead. Regression: cluster masters were silently
    replaced with local[32]."""
    base = tempfile.mkdtemp(prefix="submitm_")
    try:
        zip_path = _build_engine_zip(base)
        script = f"{base}/probe.py"
        with open(script, "w") as fh:
            fh.write(
                "from anomaly_detection_spark.session import get_spark\n"
                "s = get_spark(app_name='master-probe')\n"
                "print('EFFECTIVE_MASTER=' + s.sparkContext.master)\n"
                "s.stop()\n"
            )
        env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
        out = subprocess.run(
            [spark_submit, "--master", "local[3]", "--py-files", zip_path, script],
            capture_output=True, text=True, timeout=300, env=env, cwd=base,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        assert "EFFECTIVE_MASTER=local[3]" in out.stdout
    finally:
        shutil.rmtree(base, ignore_errors=True)


@pytest.mark.skipif(spark_submit is None, reason="spark-submit not on PATH")
def test_spark_submit_py_files_end_to_end(spark, docs, catalog):
    base = tempfile.mkdtemp(prefix="submit_")
    try:
        docs.write.parquet(f"{base}/docs")
        catalog.write.parquet(f"{base}/catalog")

        zip_path = _build_engine_zip(base)

        env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="2g")
        args = [
            spark_submit, "--master", "local[2]", "--py-files", zip_path,
            os.path.join(REPO, "run_validation.py"),
            "--input", f"{base}/docs", "--catalog", f"{base}/catalog",
            "--output", f"{base}/out", "--manifest", f"{base}/manifest",
            "--snapshot-id", "s_test",
        ]
        first = subprocess.run(
            args + ["--report-json", f"{base}/report.json",
                    "--export-csv", f"{base}/out_csv"],
            capture_output=True, text=True, timeout=600, env=env,
            cwd=base,  # NOT the repo root: only the zip provides the package
        )
        assert first.returncode == 0, first.stderr[-2000:]
        assert "VALIDATION_DONE snapshot=s_test" in first.stdout
        for sub in ("verdicts", "violations", "metrics"):
            assert os.path.exists(f"{base}/out/{sub}/_SUCCESS")

        # S4/S5 sinks: JSON summary parses and carries per-rule rollups;
        # CSV export has a header and the violation rows
        import json as _json

        with open(f"{base}/report.json") as fh:
            report = _json.load(fh)
        assert report["snapshot_id"] == "s_test" and report["failing_pairs"] > 0
        assert {r["rule_id"] for r in report["rules"]} >= {"not_null:doc_id",
                                                           "unique:doc_id"}
        csv_files = [f for f in os.listdir(f"{base}/out_csv")
                     if f.endswith(".csv")]
        assert csv_files
        with open(f"{base}/out_csv/{csv_files[0]}") as fh:
            assert fh.readline().strip() == "partition,rule_id,doc_id,detail"

        # verdicts carry failing pairs (the fixture plants defects)
        line = [ln for ln in first.stdout.splitlines() if "VALIDATION_DONE" in ln][0]
        assert int(line.rsplit("=", 1)[1]) > 0

        # resume against the committed manifest: everything done ⇒ 0 pairs,
        # and the previous run's real outputs must NOT be clobbered with
        # empty frames (regression: --resume after success emptied the sinks)
        import duckdb

        n_verd_before = duckdb.sql(
            f"SELECT COUNT(*) FROM '{base}/out/verdicts/*.parquet'"
        ).fetchone()[0]
        assert n_verd_before > 0
        second = subprocess.run(
            args + ["--resume"], capture_output=True, text=True, timeout=600,
            env=env, cwd=base,
        )
        assert second.returncode == 0, second.stderr[-2000:]
        assert "failing_pairs=0" in second.stdout
        n_verd_after = duckdb.sql(
            f"SELECT COUNT(*) FROM '{base}/out/verdicts/*.parquet'"
        ).fetchone()[0]
        assert n_verd_after == n_verd_before

        # drift mode: same snapshot as its own baseline ⇒ drift rules appear
        # in the verdict grid and all pass (PSI/KS of identical data = 0)
        # an intentionally wrong schema contract: 'spans' missing from the
        # contract + a column the table doesn't have
        contract = [["doc_id", "string"], ["partition", "string"],
                    ["bogus_col", "int"]]
        with open(f"{base}/contract.json", "w") as fh:
            _json.dump(contract, fh)
        third = subprocess.run(
            args[:-1] + ["s_drift", "--baseline", f"{base}/docs",
                         "--expect-schema", f"{base}/contract.json",
                         "--output", f"{base}/out_drift",
                         "--diff-prev", f"{base}/out/verdicts",
                         "--report-json", f"{base}/report_drift.json"],
            capture_output=True, text=True, timeout=600, env=env, cwd=base,
        )
        assert third.returncode == 0, third.stderr[-2000:]

        # per-partition narrative rollup + diff summary in the report
        with open(f"{base}/report_drift.json") as fh:
            rep3 = _json.load(fh)
        assert rep3["partitions"], "per-partition section missing"
        p0 = {p["partition"]: p for p in rep3["partitions"]}
        assert all(
            len(p["top_failing_rules"]) <= 3 for p in rep3["partitions"]
        )
        # planted defects ⇒ some partition names a failing rule with counts
        assert any(
            t["violations"] > 0
            for p in rep3["partitions"] for t in p["top_failing_rules"]
        )
        # top list is sorted by violations desc within each partition
        for p in rep3["partitions"]:
            vs = [t["violations"] for t in p["top_failing_rules"]]
            assert vs == sorted(vs, reverse=True)
        assert p0  # grid is non-empty
        assert rep3["verdict_diff"].get("new_failure", 0) > 0
        # trends section present (manifest attached), empty until 3 commits
        assert "trends" in rep3
        # --diff-prev: drift/schema rules weren't in run 1's grid — failing
        # ones surface as new_failure; a rule failing in both runs stays
        # still_failing; run-1 failing pairs keep their status even though
        # this run reused the same corpus
        diffs = dict(duckdb.sql(
            f"SELECT status, COUNT(*) FROM '{base}/out_drift/verdict_diff/*.parquet' "
            "GROUP BY status"
        ).fetchall())
        assert duckdb.sql(
            f"SELECT COUNT(*) FROM '{base}/out_drift/verdict_diff/*.parquet' "
            "WHERE rule_id = 'schema_match' AND status = 'new_failure'"
        ).fetchone()[0] > 0
        assert diffs.get("still_failing", 0) > 0  # planted defects fail in both
        verd = duckdb.sql(
            f"SELECT rule_id, bool_and(pass) FROM '{base}/out_drift/verdicts/*.parquet' "
            "WHERE rule_id LIKE 'drift%' GROUP BY rule_id"
        ).fetchall()
        assert {r[0] for r in verd} == {"drift_psi:span_kind",
                                        "drift_ks:spans_per_doc",
                                        "drift_quantile:spans_per_doc"}
        assert all(r[1] for r in verd)
        # same snapshot as baseline ⇒ zero volume delta ⇒ all partitions pass
        assert duckdb.sql(
            f"SELECT bool_and(pass) FROM '{base}/out_drift/verdicts/*.parquet' "
            "WHERE rule_id = 'row_count_drift'"
        ).fetchone()[0] is True
        # wrong contract ⇒ schema_match fails every partition, and the
        # violation details name both drift kinds
        assert duckdb.sql(
            f"SELECT bool_or(pass) FROM '{base}/out_drift/verdicts/*.parquet' "
            "WHERE rule_id = 'schema_match'"
        ).fetchone()[0] is False
        sch_details = {
            r[0] for r in duckdb.sql(
                f"SELECT DISTINCT detail FROM '{base}/out_drift/violations/*.parquet' "
                "WHERE rule_id = 'schema_match'"
            ).fetchall()
        }
        assert any(d.startswith("missing column bogus_col") for d in sch_details)
        assert any(d.startswith("unexpected column spans") for d in sch_details)
    finally:
        shutil.rmtree(base, ignore_errors=True)
