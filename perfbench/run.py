#!/usr/bin/env python3
"""Benchmark of the validation engine through ``run_validation.main``.

    python3 perfbench/run.py --workload full_snapshot --seed 1 \
        --seconds 12 --trace 0

One driver process at ``local[<cores>]`` and one client in a closed loop:
each job starts when the previous one has finished and been checked.
Workloads (inputs are generated from ``--seed`` by ``data.py`` and cached
under ``perfbench/.work/inputs``):

* ``full_snapshot`` -- a clean corpus (about 1% planted defects); a job is
  ``run_validation.main --manifest --emit-histograms`` over the snapshot.
* ``dirty_skewed``  -- the same job over a corpus with ~20% duplicated ids,
  ~10% dangling media refs, half the docs in one partition and one span
  kind above 90%.
* ``append_stream`` -- a snapshot-log base, then a closed loop of 20k-doc
  commits; a job is ``SnapshotLog.append`` plus the incremental
  ``run_validation.main`` with drift, diff, manifest and report.

Before every timed job the Spark cache is cleared and no persisted RDD may
remain; after it, the written verdict matrix and violation-row count are
compared with the DuckDB oracle. With ``--trace 0`` the last stdout line
reports the end-to-end metrics. With ``--trace 1`` the run instead
alternates untraced jobs with traced ones (Spark's event logger attached,
each job under a job group), then times each layer's public call once,
and reports per-layer metrics and the tracing overhead.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import contextlib
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

import data
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# a run stops starting jobs once the process is this old, so that it ends
# well inside the 180 s a run may take
MAX_RUN_AGE_S = 140.0
# the first timed job after the single warm-up job still warms in, so a
# median needs at least one more
MIN_JOBS = 2

FULL_DOCS = 200_000
BASE_DOCS = 50_000
APPEND_DOCS = 20_000
LAYERS = (
    "session", "snapshots", "rules.row", "rules.row.default",
    "rules.row.no_pii", "rules.row.span_sequence", "rules.unique",
    "rules.referential", "engine.verdicts", "drift", "manifest", "history",
    "sinks",
)


def _corpora():
    return {
        "full_snapshot": data.Corpus(n_docs=FULL_DOCS),
        "dirty_skewed": data.Corpus(
            n_docs=FULL_DOCS, skew_permille=500, kind_cuts=(3, 95, 98),
            dup_permille=100, hot_dup_permille=100, dangling_permille=100),
        "append_stream": data.Corpus(n_docs=BASE_DOCS),
    }


def _batch_corpus(k: int):
    # ids unique to the commit; the last partition drifts so the PSI rule
    # fires against the base histogram
    return data.Corpus(n_docs=APPEND_DOCS, id_prefix=f"c{k}-",
                       drift_partition=31, n_files=2)


# ------------------------------------------------------------ environment

def _mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_environment(run_dir: str) -> dict:
    """Size the engine's session to the host before pyspark starts:
    ``SPARK_GRAFT_CPUS`` = usable cores, driver heap a quarter of memory
    (0.5-1 GiB), Spark and temp files inside the run directory."""
    cpus = len(os.sched_getaffinity(0))
    mem_mb = _mem_total_mb()
    heap_mb = max(512, min(1024, mem_mb // 4)) // 256 * 256
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    return {"cpus": cpus, "mem_mb": mem_mb, "heap_mb": heap_mb, "tmp": tmp}


def host_info(env: dict) -> dict:
    import pyspark

    java = subprocess.run(["java", "-version"], capture_output=True,
                          text=True, timeout=60).stderr.splitlines()
    return {"cores": env["cpus"], "mem_mb": env["mem_mb"],
            "driver_heap_mb": env["heap_mb"], "pyspark": pyspark.__version__,
            "java": java[0] if java else "?", "loadavg_start": loadavg()}


def loadavg() -> str:
    with open("/proc/loadavg") as fh:
        return " ".join(fh.read().split()[:3])


def du_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def _fingerprint() -> str:
    """Input cache key part: changes whenever the generator or sizes do."""
    h = hashlib.sha1()
    with open(os.path.join(HERE, "data.py"), "rb") as fh:
        h.update(fh.read())
    h.update(repr((FULL_DOCS, BASE_DOCS, APPEND_DOCS)).encode())
    return h.hexdigest()[:10]


# ------------------------------------------------------------- workloads

class FullScan:
    """``full_snapshot`` / ``dirty_skewed``: every job validates the whole
    parquet snapshot into a fresh output and manifest."""

    def __init__(self, name: str, seed: int, run_dir: str) -> None:
        self.name, self.seed, self.run_dir = name, seed, run_dir
        self.inputs = os.path.join(
            WORK, "inputs", f"{name}-{seed}-{_fingerprint()}")
        self.k = 0

    def prepare(self, con) -> None:
        def build(tmp):
            data.write_corpus(con, _corpora()[self.name], self.seed,
                              os.path.join(tmp, "docs"))
            data.write_catalog(con, self.seed, os.path.join(tmp, "catalog"))
            data.save_json(os.path.join(tmp, "expected.json"),
                           data.expected_verdicts(
                               con, os.path.join(tmp, "docs"),
                               os.path.join(tmp, "catalog")))

        data.cached(self.inputs, build)
        self.expected = data.load_json(
            os.path.join(self.inputs, "expected.json"))
        self.docs = os.path.join(self.inputs, "docs")
        self.catalog = os.path.join(self.inputs, "catalog")
        self.n_docs = _corpora()[self.name].n_docs

    def warm_up(self, bench) -> list[float]:
        return [bench.run_job(self)[0]]

    def job(self, spark, main) -> dict:
        self.k += 1
        out = os.path.join(self.run_dir, f"job-{self.k}")
        argv = ["--input", self.docs, "--catalog", self.catalog,
                "--output", os.path.join(out, "out"),
                "--manifest", os.path.join(out, "manifest"),
                "--emit-histograms"]
        t0 = time.perf_counter()
        main(argv)
        wall = time.perf_counter() - t0
        return {"wall": wall, "out": os.path.join(out, "out"),
                "expected": self.expected, "docs": self.n_docs,
                "bytes": du_bytes(out), "cleanup": out}

    def layer_inputs(self, spark) -> dict:
        from anomaly_detection_spark.snapshots import read_table

        out = os.path.join(self.run_dir, "layers")
        return {"load": lambda: ("s0", read_table(spark, self.docs)),
                "catalog": self.catalog, "baseline_hist": None,
                "manifest": os.path.join(out, "m"), "out": out,
                "prev_verdicts": None, "expected": self.expected}


class AppendStream:
    """``append_stream``: a snapshot-log table whose first snapshot is the
    cached base corpus; every job appends one 20k-doc batch and validates
    only it, against the base's stored span-kind histogram."""

    name = "append_stream"

    def __init__(self, seed: int, run_dir: str) -> None:
        self.seed, self.run_dir = seed, run_dir
        self.inputs = os.path.join(
            WORK, "inputs", f"append_stream-{seed}-{_fingerprint()}")
        self.table = os.path.join(run_dir, "table")
        self.manifest = os.path.join(run_dir, "manifest")
        self.out = os.path.join(run_dir, "out")
        self.k = 0
        self.prev = "s1"

    def prepare(self, con) -> None:
        def build(tmp):
            data.write_corpus(con, _corpora()[self.name], self.seed,
                              os.path.join(tmp, "base"))
            data.write_catalog(con, self.seed, os.path.join(tmp, "catalog"))
            data.write_span_kind_hist(
                con, os.path.join(tmp, "base"),
                os.path.join(tmp, "base_hist", "snapshot=s1"))
            data.write_verdicts(
                con, data.expected_verdicts(
                    con, os.path.join(tmp, "base"),
                    os.path.join(tmp, "catalog"))["verdicts"],
                os.path.join(tmp, "base_verdicts"))

        data.cached(self.inputs, build)
        self.con = con
        self.catalog = os.path.join(self.inputs, "catalog")
        self.base = os.path.join(self.inputs, "base")
        self.base_hist = os.path.join(self.inputs, "base_hist")
        self.prev_verdicts = os.path.join(self.inputs, "base_verdicts")
        # the table starts as one committed snapshot, s1, over the base files
        os.makedirs(os.path.join(self.table, "log"))
        data.save_json(os.path.join(self.table, "log", "00000001.json"), {
            "snapshot_id": "s1", "sequence": 1, "parent_id": None,
            "data_dir": self.base, "committed_at": "1970-01-01T00:00:00"})
        self.batch(1)

    def batch(self, k: int) -> tuple[str, dict]:
        """Docs dir and expected verdicts of commit batch ``k`` (cached)."""
        path = os.path.join(self.inputs, f"batch-{k}")

        def build(tmp):
            data.write_corpus(self.con, _batch_corpus(k),
                              self.seed * 1000 + k, os.path.join(tmp, "docs"))
            data.save_json(os.path.join(tmp, "expected.json"),
                           data.expected_verdicts(
                               self.con, os.path.join(tmp, "docs"),
                               self.catalog, base_docs=self.base))

        data.cached(path, build)
        return (os.path.join(path, "docs"),
                data.load_json(os.path.join(path, "expected.json")))

    def _argv(self, sid: str) -> list[str]:
        return ["--input", self.table, "--format", "snaplog",
                "--catalog", self.catalog,
                "--output", os.path.join(self.out, sid),
                "--manifest", self.manifest, "--snapshot-id", sid,
                "--incremental-from", self.prev, "--iceberg-snapshot-id", sid,
                "--baseline-hist", self.base_hist, "--emit-histograms",
                "--diff-prev", self.prev_verdicts,
                "--report-json", os.path.join(self.out, f"{sid}.report.json")]

    def warm_up(self, bench) -> list[float]:
        return [bench.run_job(self)[0]]

    def job(self, spark, main) -> dict:
        from anomaly_detection_spark.snapshots import SnapshotLog

        self.k += 1
        docs, expected = self.batch(self.k)
        before = du_bytes(self.manifest)
        t0 = time.perf_counter()
        sid = SnapshotLog(spark, self.table).append(spark.read.parquet(docs))
        main(self._argv(sid))
        wall = time.perf_counter() - t0
        # the sinks; the JSON report is a summary beside them
        written = (du_bytes(os.path.join(self.out, sid))
                   + du_bytes(self.manifest) - before)
        self.prev = sid
        self.prev_verdicts = os.path.join(self.out, sid, "verdicts")
        # the next batch is generated here, outside the timed call
        self.batch(self.k + 1)
        return {"wall": wall, "out": os.path.join(self.out, sid),
                "expected": expected, "docs": APPEND_DOCS, "bytes": written,
                "cleanup": None}

    def layer_inputs(self, spark) -> dict:
        from anomaly_detection_spark.snapshots import SnapshotLog, read_table

        self.k += 1
        docs, expected = self.batch(self.k)

        def load():
            sid = SnapshotLog(spark, self.table).append(
                spark.read.parquet(docs))
            return sid, read_table(spark, self.table, fmt="snaplog",
                                   snapshot_id=sid,
                                   incremental_from=self.prev)

        return {"load": load, "catalog": self.catalog,
                "baseline_hist": self.base_hist, "manifest": self.manifest,
                "out": os.path.join(self.run_dir, "layers"),
                "prev_verdicts": self.prev_verdicts,
                "expected": expected}


# ------------------------------------------------------------------ bench

class Bench:
    def __init__(self, args, env: dict, run_dir: str, clock) -> None:
        self.args, self.env, self.run_dir = args, env, run_dir
        self.clock = clock
        self.spark = None
        self.con = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.counters = {"manifest_dirs": 0, "log_entries": 0}

    # -- session -------------------------------------------------------
    def start_session(self) -> float:
        """Start the engine's session through ``get_spark``. The event-log
        settings ride along in every mode but logging stays off; a traced
        run attaches the logger later (``attach_event_log``)."""
        from anomaly_detection_spark.session import get_spark

        self.event_log = os.path.join(self.run_dir, "eventlog")
        os.makedirs(self.event_log, exist_ok=True)
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.env['tmp']}",
            "spark.eventLog.dir": "file://" + self.event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
        start = time.time()
        self.spark = get_spark(app_name=f"perfbench:{self.args.workload}",
                               master=f"local[{self.env['cpus']}]",
                               extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_span = {"id": "session#0", "name": "session",
                             "parent": None, "start": start,
                             "end": time.time()}
        return self.session_span["end"] - start

    def start_event_log(self):
        """Start Spark's own event logger for the running context, writing
        to the session's ``spark.eventLog.dir``; ``event_log_attached``
        feeds it events. Attaching it late (a context restart with logging
        on breaks PySpark's accumulator server) keeps the JVM, its compiled
        code and the Python workers of the untraced jobs."""
        sc = self.spark.sparkContext
        jsc, jvm = sc._jsc.sc(), sc._jvm
        listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            jsc.applicationId(), jsc.applicationAttemptId(),
            jvm.java.net.URI("file://" + self.event_log), jsc.conf(),
            jsc.hadoopConfiguration())
        listener.start()
        return listener

    @contextlib.contextmanager
    def event_log_attached(self, listener):
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.addSparkListener(listener)
        try:
            yield
        finally:
            jsc.listenerBus().waitUntilEmpty()
            jsc.removeSparkListener(listener)

    def main(self, argv: list[str]) -> None:
        import run_validation

        rc = run_validation.main(argv)
        if rc != 0:
            raise RuntimeError(f"run_validation.main returned {rc}")

    def clear_cache(self) -> None:
        """Drop every cached table and leftover persisted RDD (a previous
        ``main`` leaves its violations persisted and its ``--diff-prev``
        input locally checkpointed); fail if any RDD stays persisted."""
        self.spark.catalog.clearCache()
        jsc = self.spark.sparkContext._jsc
        for rdd in list(jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)
        left = jsc.getPersistentRDDs().size()
        if left:
            raise RuntimeError(f"{left} RDDs still persisted before a job")

    # -- jobs ----------------------------------------------------------
    def run_job(self, wl) -> tuple[float, dict | None]:
        """One checked job; returns (wall seconds, job record or None when
        the job raised or its output was wrong)."""
        self.attempted += 1
        try:
            self.clear_cache()
            rec = wl.job(self.spark, self.main)
            err = data.check_job(self.con, rec["out"], rec["expected"])
        except Exception as exc:  # a failed job is counted, not fatal
            rec, err = None, f"{type(exc).__name__}: {exc}"
        if rec and rec["cleanup"]:
            shutil.rmtree(rec["cleanup"], ignore_errors=True)
        if err:
            self.failed += 1
            self.errors.append(err.splitlines()[0][:300])
            return (rec["wall"] if rec else 0.0), None
        return rec["wall"], rec

    def loop(self, wl, seconds: float) -> list[dict]:
        """Closed loop for ``seconds`` of job time and at least
        ``MIN_JOBS`` jobs."""
        done: list[dict] = []
        spent, tries = 0.0, 0
        while tries == 0 or (self.clock.age() < MAX_RUN_AGE_S and
                             (tries < MIN_JOBS or spent < seconds)):
            tries += 1
            wall, rec = self.run_job(wl)
            spent += wall
            if rec is not None:
                done.append(rec)
            print(f"  job {tries}: {wall:.3f} s"
                  + ("" if rec else "  FAILED"), flush=True)
        return done

    def paired_loop(self, wl, seconds: float, tr,
                    listener) -> tuple[list[dict], list[dict]]:
        """Pairs of one untraced job and one traced job (event log
        attached, job under a ``job`` span), in alternating order so that
        warm-in and drift fall on both sides alike; for ``seconds`` of
        traced job time and at least ``MIN_JOBS`` pairs."""
        untraced: list[dict] = []
        traced: list[dict] = []
        spent, pairs = 0.0, 0
        while pairs == 0 or (self.clock.age() < MAX_RUN_AGE_S and
                             (pairs < MIN_JOBS or spent < seconds)):
            pairs += 1
            walls = {}
            for traced_side in ((False, True) if pairs % 2 else (True, False)):
                if traced_side:
                    with self.event_log_attached(listener), tr.span("job"):
                        wall, rec = self.run_job(wl)
                    spent += wall
                else:
                    wall, rec = self.run_job(wl)
                if rec is not None:
                    (traced if traced_side else untraced).append(rec)
                walls["traced" if traced_side else "untraced"] = wall
            print(f"  pair {pairs}: untraced {walls['untraced']:.3f} s, "
                  f"traced {walls['traced']:.3f} s", flush=True)
        return untraced, traced

    # -- traced layer pass ----------------------------------------------
    def instrument(self) -> None:
        """Count snapshot-log entries and manifest commit dirs read, by
        wrapping the two public readers."""
        from anomaly_detection_spark.manifest import RuleProgressManifest
        from anomaly_detection_spark.snapshots import SnapshotLog

        counters = self.counters
        snapshots, read = SnapshotLog.snapshots, RuleProgressManifest.read

        def counted_snapshots(log):
            out = snapshots(log)
            counters["log_entries"] += len(out)
            return out

        def counted_read(m):
            if os.path.isdir(m.path):
                counters["manifest_dirs"] += sum(
                    1 for d in os.listdir(m.path) if d.startswith("commit-"))
            return read(m)

        SnapshotLog.snapshots = counted_snapshots
        RuleProgressManifest.read = counted_read

    def layer_pass(self, wl, tr) -> dict:
        """Call each layer's public function once, inside its own span,
        forcing every result through the ``noop`` sink."""
        from anomaly_detection_spark import drift, history
        from anomaly_detection_spark.engine import ValidationRun
        from anomaly_detection_spark.manifest import RuleProgressManifest
        from anomaly_detection_spark.rules import builtin
        from anomaly_detection_spark.rules.core import RuleSet

        spark = self.spark

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        self.clear_cache()
        li = wl.layer_inputs(spark)
        with tr.span("snapshots"):
            sid, docs = li["load"]()
            noop(docs)
        catalog = spark.read.parquet(li["catalog"])
        rules = RuleSet(
            row_rules=builtin.default_document_rules()
            + [builtin.no_pii(), builtin.span_sequence_valid_row()],
            dataset_rules=[builtin.unique("doc_id"), builtin.referential()])
        base_hist = (spark.read.parquet(li["baseline_hist"])
                     if li["baseline_hist"] else None)
        if base_hist is not None:
            rules.add(builtin.psi_drift_from_hist(base_hist))
        manifest = RuleProgressManifest(spark, li["manifest"])
        run = ValidationRun(spark, docs, rules, media_catalog=catalog,
                            snapshot_id=sid, manifest=manifest)

        with tr.span("rules.row"):
            fused = run.fused_row_violations(docs)
            noop(fused)
        violation_rows = fused.count()
        want = sum(v[3] for v in li["expected"]["verdicts"]
                   if v[1] in data.ROW_RULES)
        if violation_rows != want:
            self.failed += 1
            self.errors.append(
                f"layer pass: {violation_rows} row-rule violations, "
                f"expected {want}")
        for layer, row_rules in (
                ("rules.row.default", builtin.default_document_rules()),
                ("rules.row.no_pii", [builtin.no_pii()]),
                ("rules.row.span_sequence",
                 [builtin.span_sequence_valid_row()])):
            with tr.span(layer):
                noop(ValidationRun(spark, docs, RuleSet(row_rules=row_rules),
                                   media_catalog=catalog)
                     .fused_row_violations(docs))
        with tr.span("rules.unique"):
            noop(builtin.unique("doc_id").build(docs, run.ctx))
        with tr.span("rules.referential"):
            noop(builtin.referential().build(docs, run.ctx))
        with tr.span("drift"):
            noop(drift.span_kind_histogram(docs, "partition"))
            if base_hist is not None:
                noop(builtin.psi_drift_from_hist(base_hist)
                     .build(docs, run.ctx))
        with tr.span("engine.verdicts"):
            result = run.run(resume=False, commit_manifest=False)
            noop(result.verdicts)
        cache_b = sum(i.memSize() + i.diskSize() for i in
                      spark.sparkContext._jsc.sc().getRDDStorageInfo())
        with tr.span("sinks"):
            for name in ("violations", "verdicts", "metrics"):
                getattr(result, name).write.mode("overwrite").parquet(
                    os.path.join(li["out"], name))
        with tr.span("manifest"):
            manifest.commit(result.metrics)
            noop(manifest.read())
        with tr.span("history"):
            cur = spark.read.parquet(os.path.join(li["out"], "verdicts"))
            prev = (spark.read.parquet(li["prev_verdicts"])
                    if li["prev_verdicts"] else cur)
            noop(history.verdict_diff(cur, prev))
            noop(history.violation_trends(manifest.read()))
        self.clear_cache()
        self.attempted += 1
        return {"rules.row.violation_rows": violation_rows,
                "engine.violations_cache_mb": cache_b / (1024.0 * 1024.0)}


def summarize(done: list[dict]) -> dict:
    walls = [r["wall"] for r in done]
    docs = sum(r["docs"] for r in done)
    return {
        "n": len(walls),
        "walls": walls,
        "job_p50_s": statistics.median(walls),
        "docs_per_s": docs / sum(walls),
        "sink_bytes_per_doc": sum(r["bytes"] for r in done) / docs,
    }


def tail(walls: list[float]) -> tuple[float, float] | None:
    """(percentile, value): the highest percentile with at least ten
    samples beyond it, or None when fewer than eleven samples exist."""
    n = len(walls)
    if n < 11:
        return None
    return 100.0 * (n - 10) / n, sorted(walls)[n - 11]


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM and wait until every process this run
    started has exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while tracing.descendants(os.getpid()):
        if time.time() > deadline:
            for pid in tracing.descendants(os.getpid()):
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
            deadline = time.time() + 30
        time.sleep(0.1)


def execute(args, env: dict, run_dir: str, clock) -> dict:
    import duckdb

    bench = Bench(args, env, run_dir, clock)
    if args.workload == "append_stream":
        wl = AppendStream(args.seed, run_dir)
    else:
        wl = FullScan(args.workload, args.seed, run_dir)

    # inputs are generated (or found in the cache) while the JVM starts
    bench.con = duckdb.connect()
    bench.con.execute(f"SET threads TO {env['cpus']}")
    with concurrent.futures.ThreadPoolExecutor(1) as pool:
        t0 = time.perf_counter()
        prepared = pool.submit(wl.prepare, bench.con)
        session_s = bench.start_session()
        prepared.result()
        inputs_wait_s = time.perf_counter() - t0 - session_s
    warm = wl.warm_up(bench)
    print(f"setup: session {session_s:.3f} s, inputs wait "
          f"{inputs_wait_s:.3f} s, warm-up jobs "
          + ", ".join(f"{w:.3f}" for w in warm) + " s", flush=True)
    setup_s = bench.clock.age()

    res = {"setup_s": setup_s, "bench": bench}
    if not args.trace:
        print("timed jobs:", flush=True)
        with tracing.MemorySampler() as mem:
            done = bench.loop(wl, args.seconds)
        res["peak_rss_mb"] = mem.peak
        if done:
            res.update(summarize(done))
        return res

    # traced run: untraced and traced jobs in pairs, then one call of each
    # layer's public function with the event log attached
    listener = bench.start_event_log()
    bench.instrument()
    tr = tracing.Tracer(bench.spark.sparkContext)
    tr.spans.append(bench.session_span)
    print("job pairs:", flush=True)
    untraced, traced = bench.paired_loop(wl, args.seconds, tr, listener)
    per_job = {k: v / max(1, len(untraced) + len(traced))
               for k, v in bench.counters.items()}
    with bench.event_log_attached(listener):
        extra = bench.layer_pass(wl, tr)
    listener.stop()
    tr.write(os.path.join(WORK, "traces",
                          f"{args.workload}-{args.seed}-{os.getpid()}.json"))
    totals = tracing.read_event_log(bench.event_log)
    layers = {}
    for layer in LAYERS:
        for field, value in tracing.layer_metrics(tr, totals, layer).items():
            layers[f"{layer}.{field}"] = value
    job_groups = [s["id"] for s in tr.spans if s["name"] == "job"]
    n = max(1, len(job_groups))
    layers.update(extra)
    layers["manifest.commit_dirs_read"] = per_job["manifest_dirs"]
    layers["snapshots.log_entries_read"] = per_job["log_entries"]
    layers["driver.spark_jobs_per_job"] = sum(
        totals.get(g, {}).get("jobs", 0) for g in job_groups) / n
    layers["driver.stages_per_job"] = sum(
        totals.get(g, {}).get("stages", 0) for g in job_groups) / n
    # with no successful job on a side the run is already reported as
    # incorrect; 0 keeps the result line valid JSON
    p50 = {name: statistics.median([r["wall"] for r in recs]) if recs else 0.0
           for name, recs in (("traced", traced), ("untraced", untraced))}
    layers["trace.job_p50_s"] = p50["traced"]
    layers["trace.overhead_s"] = p50["traced"] - p50["untraced"]
    res["layers"] = layers
    if untraced:
        res.update(summarize(untraced))
    return res


UNITS = {"setup_s": "s", "job_p50_s": "s", "docs_per_s": "docs/s",
         "peak_rss_mb": "MB", "sink_bytes_per_doc": "B/doc"}


def layer_unit(name: str) -> str:
    field = name.rsplit(".", 1)[1]
    units = dict(tracing.LAYER_FIELDS)
    units.update(violation_rows="count", violations_cache_mb="MB",
                 commit_dirs_read="count", log_entries_read="count",
                 spark_jobs_per_job="count", stages_per_job="count",
                 job_p50_s="s", overhead_s="s")
    return units[field]


def report(args, info: dict, res: dict) -> dict:
    bench = res["bench"]
    print("host: " + ", ".join(f"{k}={v}" for k, v in info.items())
          + f", loadavg_end={loadavg()}")
    print(f"workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds} trace={args.trace}")
    for e in bench.errors:
        print(f"error: {e}")
    ratio = bench.failed / max(1, bench.attempted)
    print(f"failed_ops_ratio {ratio:.6f} ratio "
          f"({bench.failed} of {bench.attempted} jobs)")
    if "job_p50_s" in res:
        t = tail(res["walls"])
        print(f"timed jobs n={res['n']}")
        print("job_tail_s " + (f"{t[1]:.6f} s (p{t[0]:.1f}, n={res['n']})"
                               if t else
                               f"omitted (n={res['n']} < 11 samples)"))
    metrics = {k: res[k] for k in UNITS if k in res}
    for k, v in metrics.items():
        print(f"{k} {v:.6f} {UNITS[k]}")
    if args.trace:
        metrics = res["layers"]
        for k, v in metrics.items():
            print(f"{k} {v:.6f} {layer_unit(k)}")
        units = {k: layer_unit(k) for k in metrics}
    else:
        units = UNITS
    return {
        "correct": bench.failed == 0 and "job_p50_s" in res,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["full_snapshot", "dirty_skewed",
                             "append_stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    clock = tracing.ProcessClock()

    for need in ("run_validation.py", "anomaly_detection_spark"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a "
                  "checkout of the repository", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    env = pin_environment(run_dir)
    try:
        info = host_info(env)
        res = execute(args, env, run_dir, clock)
        out = report(args, info, res)
    finally:
        shutdown_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
