#!/usr/bin/env python
"""spark-submit entry point for the validation engine.

Cluster deployment (north-rule shape):

    zip -r engine.zip anomaly_detection_spark
    spark-submit --master <cluster> --py-files engine.zip run_validation.py \
        --input  <path-or-iceberg-table of documents> \
        --catalog <path of media_catalog> \
        --output /path/to/run_output \
        --manifest /path/to/manifest \
        --snapshot-id s42 [--resume]

Reads the snapshot, runs the full fused rule suite (+ uniqueness +
referential + span-sequence check), overwrites three parquet outputs
(verdicts/, violations/, metrics/) and commits the snapshot to the progress
manifest last — so an interrupted run is run again in full, never skipped,
and a --resume of a committed snapshot evaluates nothing.
The same script runs unchanged at any parallelism; local smoke:

    spark-submit --master 'local[4]' --py-files engine.zip run_validation.py ...
"""

from __future__ import annotations

import argparse
import functools
import sys
from concurrent.futures import Future, ThreadPoolExecutor


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True,
                    help="documents parquet path (or iceberg table with --format iceberg)")
    ap.add_argument("--catalog", required=True, help="media_catalog parquet path")
    ap.add_argument("--output", required=True, help="output dir (verdicts/violations/metrics)")
    ap.add_argument("--manifest", default=None, help="progress-manifest dir (enables resume)")
    ap.add_argument("--baseline", default=None,
                    help="previous-snapshot documents path; enables PSI/KS/quantile drift rules")
    ap.add_argument("--snapshot-id", default="s0")
    ap.add_argument("--resume", action="store_true",
                    help="skip a snapshot the manifest has committed: no "
                         "rule runs and the sinks stay as they are (an "
                         "uncommitted snapshot is run again in full)")
    ap.add_argument("--format", default="parquet",
                    choices=["parquet", "iceberg", "snaplog"],
                    help="input format: plain parquet path, Iceberg table "
                         "(needs the runtime jar on the cluster classpath), "
                         "or the engine's parquet-backed snapshot log "
                         "(identical snapshot semantics, jar-free)")
    ap.add_argument("--iceberg-snapshot-id", default=None,
                    help="pin the snapshot to validate (time travel); "
                         "default = current table state (iceberg/snaplog)")
    ap.add_argument("--incremental-from", default=None,
                    help="incremental read: validate only rows APPENDED "
                         "after this snapshot id (up to --iceberg-snapshot-id if "
                         "given) — the per-snapshot revalidation shape; the "
                         "manifest commits it under --snapshot-id "
                         "(iceberg/snaplog)")
    ap.add_argument("--baseline-snapshot-id", default=None,
                    help="pin the --baseline read to a snapshot (iceberg/"
                         "snaplog); the natural drift baseline is an earlier "
                         "snapshot of the same table")
    ap.add_argument("--expect-schema", default=None,
                    help="JSON file of {column: simple_type_string} (or a list "
                         "of [name, type] pairs); enables the schema_match "
                         "contract rule (missing/extra/type-drifted columns)")
    ap.add_argument("--max-row-delta", type=float, default=0.5,
                    help="relative per-partition row-count tolerance vs "
                         "--baseline; enables row_count_drift when --baseline "
                         "is given")
    ap.add_argument("--report-json", default=None,
                    help="also write a driver-side JSON summary report "
                         "(per-rule totals; ≈ the reference's summary report)")
    ap.add_argument("--diff-prev", default=None,
                    help="previous run's verdicts parquet dir; writes the "
                         "snapshot-over-snapshot verdict diff (new_failure / "
                         "resolved / still_failing) to {output}/verdict_diff")
    ap.add_argument("--rules-config", default=None,
                    help="JSON rule-suite config (rules.config vocabulary, "
                         "e.g. serialized suggest_rules output) ADDED to the "
                         "default document suite")
    ap.add_argument("--export-csv", default=None,
                    help="also export the violation rows as headered CSV "
                         "(≈ the reference's export_all_anomalies_csv)")
    ap.add_argument("--emit-histograms", action="store_true",
                    help="persist the current snapshot's span-kind "
                         "histogram to {output}/span_kind_hist — the "
                         "metadata-sized drift baseline a later run "
                         "consumes via --baseline-hist (histograms merge "
                         "exactly across commits)")
    ap.add_argument("--baseline-hist", default=None,
                    help="parquet dir of a STORED (partition, bin, count) "
                         "span-kind histogram (from --emit-histograms); "
                         "enables PSI drift against it WITHOUT rescanning "
                         "the baseline snapshot")
    ap.add_argument("--max-violations-per-pair", type=int, default=None,
                    help="cap the violations SINK at K deterministic "
                         "exemplar rows per (partition, rule_id) — smallest "
                         "(doc_id, detail), skew-safe two-phase top-k. "
                         "Verdict/metric counts stay exact. Incompatible "
                         "with --quarantine, which must route on the FULL "
                         "violating-id set")
    ap.add_argument("--quarantine", default=None,
                    help="also write the INPUT docs routed by verdict: one "
                         "parquet dir partitioned by route=(clean|"
                         "quarantined) — clean docs ship to training, "
                         "violating docs go to remediation. Single scan of "
                         "the corpus, one join against the distinct "
                         "violating-id set (AQE broadcasts it when small)")
    ap.add_argument("--preflight", type=int, default=None, metavar="PCT",
                    help="triage pass before the full scan: evaluate the "
                         "suite's ROW rules on a deterministic PCT%% "
                         "md5-bucket sample of doc_id (stable membership, "
                         "pure pushed-down filter) and write estimated "
                         "per-(partition, rule) violation ppm to "
                         "{output}/preflight. Dataset rules (uniqueness, "
                         "referential) are excluded — their statistics "
                         "don't survive sampling")
    ap.add_argument("--preflight-only", action="store_true",
                    help="stop after the preflight estimate (the "
                         "is-this-snapshot-obviously-broken run); requires "
                         "--preflight")
    ap.add_argument("--cooccurrence-report", action="store_true",
                    help="also write {output}/rule_cooccurrence: per rule "
                         "pair the distinct-doc overlap and integer-ppm "
                         "Jaccard over the FULL violations sink — finds "
                         "redundant rules (Jaccard ≈ 1e6) and shared root "
                         "causes. With --max-violations-per-pair the sink "
                         "holds exemplars only, so overlaps are "
                         "exemplar-based")
    ap.add_argument("--slice-dims", default=None, metavar="C1,C2,...",
                    help="also write {output}/violation_slices: per failing "
                         "rule × (dimension, value) slice of the corpus, "
                         "the violation rate vs the rule's overall rate as "
                         "an exact integer lift — WHERE is each rule "
                         "failing? One unpivot scan over the named "
                         "columns, violating ids joined once")
    ap.add_argument("--fingerprint-cols", default=None, metavar="C1,C2,...",
                    help="also write {output}/column_fingerprints: a KMV "
                         "content sketch per named top-level column — two "
                         "snapshots' sketches match iff the value SETS "
                         "match, so renames are detectable where "
                         "schema_match only sees drop+add")
    ap.add_argument("--fingerprint-prev", default=None,
                    help="a previous run's column_fingerprints dir; writes "
                         "{output}/column_renames classifying each sketch "
                         "as stable/renamed/added/removed; requires "
                         "--fingerprint-cols")
    ap.add_argument("--emit-checksums", default=None, metavar="C1,C2,...",
                    help="also write {output}/checksums: per-partition "
                         "(n_rows, checksum) over the named columns — an "
                         "order/layout-independent md5-sum content "
                         "checksum (string/integer/boolean/date columns "
                         "only). The metadata-sized artifact a migration "
                         "or backfill compares via --checksum-prev")
    ap.add_argument("--checksum-prev", default=None,
                    help="a previous run's checksums dir; writes "
                         "{output}/checksum_reconcile classifying each "
                         "partition as match / count_mismatch / "
                         "content_mismatch / only_current / only_previous; "
                         "requires --emit-checksums with the SAME columns")
    args = ap.parse_args(argv)
    if args.max_violations_per_pair is not None and args.quarantine:
        ap.error("--max-violations-per-pair caps the violations sink, but "
                 "--quarantine routes documents from that sink and needs "
                 "the full violating-id set — drop one of the two")
    if args.max_violations_per_pair is not None \
            and args.max_violations_per_pair < 1:
        ap.error("--max-violations-per-pair must be >= 1")
    if args.preflight is not None and not (1 <= args.preflight <= 99):
        ap.error("--preflight must be a percentage in 1..99")
    if args.preflight_only and args.preflight is None:
        ap.error("--preflight-only requires --preflight")
    if args.fingerprint_prev and not args.fingerprint_cols:
        ap.error("--fingerprint-prev requires --fingerprint-cols")
    if args.checksum_prev and not args.emit_checksums:
        ap.error("--checksum-prev requires --emit-checksums")
    return args


def cluster_violations(violations):
    """Lay out a violations frame for its parquet sink: rows clustered by
    (partition, rule_id) and sorted by (partition, rule_id, doc_id, detail),
    NULLs first, within each file.

    The rebalance lets AQE size the files by bytes rather than by the
    partitions of the rule branches upstream: it coalesces a small increment
    into one file and splits a hot pair across several. Sorting makes the
    pair columns compress to almost nothing and the file contents a
    function of the rows, not of which task wrote them first."""
    return violations.hint("rebalance", "partition", "rule_id") \
        .sortWithinPartitions("partition", "rule_id", "doc_id", "detail")


def start_branch(pool, spark, steps) -> Future:
    """Submit ``steps`` to ``pool`` to run in order on one thread. The
    thread takes the caller's Spark job group, local properties and tags,
    as they are now, so its jobs are attributed like the caller's own."""
    from pyspark.util import inheritable_thread_target

    def branch() -> None:
        for step in steps:
            step()

    return pool.submit(inheritable_thread_target(spark)(branch))


def read_rows(spark, path: str, schema: str, what: str):
    """The rows of the parquet files under ``path``, read with the DDL
    ``schema`` in one Spark job into a local relation that the JVM builds
    (the rows never cross into Python). No plan of the run names those files
    then, so an output that rewrites them (the verdicts sink may be its own
    --diff-prev, the histogram store its own --baseline-hist) neither
    changes the rows nor refreshes a cached plan that reads them (a write
    refreshes every cached plan that reads its path), and nothing is
    persisted. The rows keep the read's schema, with a discovered partition
    column (the histogram store's ``snapshot``). With a schema, a directory
    without files would read as empty: it raises FileNotFoundError
    instead."""
    from pyspark.sql import DataFrame

    df = spark.read.schema(schema).parquet(path)
    if not df.inputFiles():
        raise FileNotFoundError(f"{path}: no {what} files")
    return DataFrame(spark._jsparkSession.createDataFrame(
        df._jdf.collectAsList(), df._jdf.schema()), spark)


@functools.lru_cache(maxsize=None)
def fixed_rules() -> tuple[tuple, tuple]:
    """The (row rules, dataset rules) of main's fixed suite, built once per
    process. The rules are immutable, and a driver that validates one commit
    after another would otherwise rebuild their Columns, in hundreds of py4j
    round trips, at every commit. Copy them into a fresh RuleSet: adding a
    rule to it extends its lists."""
    from anomaly_detection_spark.rules import builtin

    return (
        # native span-sequence check, fused into the single row-rule scan
        tuple(builtin.default_document_rules()
              + [builtin.no_pii(), builtin.span_sequence_valid_row()]),
        (builtin.unique("doc_id"), builtin.referential()),
    )


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])

    from anomaly_detection_spark.engine import (
        VERDICTS_SCHEMA, VIOLATIONS_SCHEMA, ValidationRun)
    from anomaly_detection_spark.manifest import RuleProgressManifest
    from anomaly_detection_spark.rules import builtin
    from anomaly_detection_spark.rules.core import RuleSet
    from anomaly_detection_spark.session import get_spark

    from anomaly_detection_spark.snapshots import read_table

    # only stop a session this run created: an embedding caller (tests, a
    # notebook driving several snapshots) keeps its own session alive
    from pyspark.sql import Observation, SparkSession
    from pyspark.sql import functions as F

    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark(app_name=f"validate:{args.snapshot_id}")
    docs = read_table(
        spark, args.input, fmt=args.format,
        snapshot_id=args.iceberg_snapshot_id,
        incremental_from=args.incremental_from,
    )
    catalog = spark.read.parquet(args.catalog)

    row_rules, dataset_rules = fixed_rules()
    rules = RuleSet(row_rules=list(row_rules), dataset_rules=list(dataset_rules))
    if args.rules_config:
        from anomaly_detection_spark.rules.config import suite_from_config

        with open(args.rules_config) as fh:
            learned = suite_from_config(fh.read())
        for r in learned.row_rules + learned.dataset_rules:
            rules.add(r)
    if args.baseline:
        base_docs = read_table(
            spark, args.baseline, fmt=args.format,
            snapshot_id=args.baseline_snapshot_id,
        )
        rules.add(builtin.psi_drift(base_docs)).add(builtin.ks_drift(base_docs))
        rules.add(builtin.quantile_drift(base_docs))
        rules.add(builtin.row_count_drift(base_docs, max_rel_delta=args.max_row_delta))
    elif args.baseline_hist:
        # drift without touching baseline DATA: the stored histogram is the
        # whole baseline state the PSI check needs (metadata-sized)
        from anomaly_detection_spark.drift import SPAN_KIND_HIST_SCHEMA

        rules.add(builtin.psi_drift_from_hist(read_rows(
            spark, args.baseline_hist, SPAN_KIND_HIST_SCHEMA, "histogram")))
    # read before the grid action: a missing directory fails before any rule
    # runs, and the verdicts sink may overwrite these files
    prev_verdicts = read_rows(spark, args.diff_prev, VERDICTS_SCHEMA,
                              "verdicts") if args.diff_prev else None
    if args.expect_schema:
        import json as _json

        with open(args.expect_schema) as fh:
            contract = _json.load(fh)
        items = (
            list(contract.items()) if isinstance(contract, dict)
            else [tuple(x) for x in contract]
        )
        rules.add(builtin.schema_match(items))
    manifest = RuleProgressManifest(spark, args.manifest) if args.manifest else None
    run = ValidationRun(
        spark, docs, rules, media_catalog=catalog,
        snapshot_id=args.snapshot_id, manifest=manifest,
    )

    # The write_* steps below run on the output branches of the write-order
    # block at the end of main; ``result`` and ``pending`` are bound there
    # before any branch starts.
    def write_sink(name, df) -> None:
        # the grid sinks are one cached partition already
        df.write.mode("overwrite").parquet(f"{args.output}/{name}")

    def write_violations() -> None:
        # Sink policy, not engine semantics: verdict/metric counts were
        # already derived from the FULL violations frame inside run(), so
        # capping here bounds what lands on disk without touching
        # correctness.
        sink_violations = result.violations
        if args.max_violations_per_pair is not None:
            from anomaly_detection_spark.engine import cap_violations

            sink_violations = cap_violations(
                result.violations, args.max_violations_per_pair)
        write_sink("violations", cluster_violations(sink_violations))

    def read_violations():
        """The FULL violations sink, read with its known schema."""
        return spark.read.schema(VIOLATIONS_SCHEMA).parquet(
            f"{args.output}/violations")

    def export_csv() -> None:
        # S5: CSV export is a projection of the parquet sink, so it holds
        # what the sink holds, on a resume of a committed snapshot too
        read_violations().write.mode("overwrite").option(
            "header", True).csv(args.export_csv)

    def write_verdicts() -> None:
        """The verdicts sink, then the diff against --diff-prev, whose rows
        were read before the sink may have overwritten their files."""
        if pending:
            write_sink("verdicts", result.verdicts)
        if prev_verdicts is not None:
            write_verdict_diff()

    def write_verdict_diff() -> None:
        """Diff the current verdict sink (on a resume of a committed
        snapshot, the committed run's: this run wrote none) against the
        --diff-prev rows, and observe the diff's statuses in ``diff_seen``
        as the rows are written, for the report."""
        from anomaly_detection_spark.history import verdict_diff

        cur = spark.read.schema(VERDICTS_SCHEMA).parquet(
            f"{args.output}/verdicts")
        verdict_diff(cur, prev_verdicts).observe(
            diff_seen, F.collect_list("status").alias("status")
        ).write.mode("overwrite").parquet(f"{args.output}/verdict_diff")

    def write_histograms() -> None:
        """Persist the scanned rows' span-kind histogram under
        ``{output}/span_kind_hist/snapshot=<id>`` — metadata-sized
        (partition, bin, count) rows a later run reads via
        --baseline-hist. Incremental scans add their commit as a NEW
        subdir; the reader merges subdirs exactly (histogram counts are
        additive), so the stored baseline is always the whole-snapshot
        distribution, never just the last increment. A full scan is the
        complete snapshot state and overwrites the whole directory, so no
        other commit's subdir can double-count rows it saw; an incremental
        scan overwrites only its own subdir (dynamic partition overwrite),
        so re-running snapshot S never double-folds it. The Spark writer
        does both, on any filesystem Spark writes to."""
        from anomaly_detection_spark import drift as _drift

        _drift.span_kind_histogram(docs, "partition").withColumn(
            "snapshot", F.lit(args.snapshot_id)
        ).write.mode("overwrite").partitionBy("snapshot").option(
            "partitionOverwriteMode",
            "dynamic" if args.incremental_from else "static",
        ).parquet(f"{args.output}/span_kind_hist")

    def write_quarantine() -> None:
        """Route the INPUT corpus by verdict from the violations sink (on a
        resume of a committed snapshot, the committed run's): distinct non-null violating doc_ids in one left join (AQE
        broadcast-converts when small), plus docs with NULL doc_id — they
        can never be matched to a violation row, and an untrackable doc
        must not ship to training via route=clean."""
        bad_ids = (
            read_violations()
            .select("doc_id").filter(F.col("doc_id").isNotNull())
            .distinct().withColumn("_q", F.lit(True))
        )
        # route is a STRING partition column (clean|quarantined): partition
        # directory values round-trip as strings, so a boolean would come
        # back re-typed on read
        docs.join(bad_ids, "doc_id", "left").withColumn(
            "route",
            F.when(F.col("_q") | F.col("doc_id").isNull(),
                   F.lit("quarantined")).otherwise(F.lit("clean")),
        ).drop("_q").write.mode("overwrite").partitionBy(
            "route").parquet(args.quarantine)

    def write_cooccurrence() -> None:
        """Rule co-occurrence meta-analytics over the violations sink (on a
        resume of a committed snapshot, the committed run's): per rule
        pair, distinct-doc overlap and exact integer-ppm Jaccard. Self-join fan-out is bounded by the
        suite size, never by the corpus."""
        from anomaly_detection_spark.engine import rule_cooccurrence

        rule_cooccurrence(read_violations()).write.mode("overwrite").parquet(
            f"{args.output}/rule_cooccurrence")

    def write_slices() -> None:
        """Slice-lift localization over the violations sink (on a resume of
        a committed snapshot, the committed run's) against the input corpus,
        over the user-named dimension columns."""
        from anomaly_detection_spark.engine import violation_slices

        dims = [c.strip() for c in args.slice_dims.split(",") if c.strip()]
        violation_slices(docs, read_violations(), dims, ctx=run.ctx).write.mode(
            "overwrite").parquet(f"{args.output}/violation_slices")

    def write_fingerprints() -> None:
        """KMV content sketches of the named columns (one stack-unpivot
        scan of the input), plus — when --fingerprint-prev names an earlier
        run's sketches — the rename classification: equal sketches with
        different names are RENAMES, which schema_match can only report as
        a drop + an add."""
        from anomaly_detection_spark.profiler import content_fingerprint

        cols = [c.strip() for c in args.fingerprint_cols.split(",")
                if c.strip()]
        content_fingerprint(docs, cols).write.mode("overwrite").parquet(
            f"{args.output}/column_fingerprints")
        if args.fingerprint_prev:
            prev = spark.read.parquet(args.fingerprint_prev)
            cur = spark.read.parquet(f"{args.output}/column_fingerprints")
            joined = (
                prev.select(F.col("column").alias("prev_col"), "sketch")
                .join(cur.select(F.col("column").alias("cur_col"), "sketch"),
                      "sketch", "full_outer")
            )
            status = (
                F.when(F.col("prev_col").isNull(), F.lit("added"))
                .when(F.col("cur_col").isNull(), F.lit("removed"))
                .when(F.col("prev_col") == F.col("cur_col"), F.lit("stable"))
                .otherwise(F.lit("renamed"))
            )
            joined.select("prev_col", "cur_col", "sketch",
                          status.alias("status")).write.mode(
                "overwrite").parquet(f"{args.output}/column_renames")

    def write_checksums() -> None:
        """Order/layout-independent per-partition content checksum of the
        scanned rows over the user-named columns (one scan, map-side
        combined, #partitions result rows) — plus, when --checksum-prev
        names an earlier run's checksums, the reconciliation verdict: a
        broadcast-sized join of two metadata tables, never of data."""
        from anomaly_detection_spark.functions.reconcile import (
            reconcile, table_checksum)

        cols = [c.strip() for c in args.emit_checksums.split(",")
                if c.strip()]
        cur = table_checksum(docs, cols, partition_col=run.ctx.partition_col)
        cur.write.mode("overwrite").parquet(f"{args.output}/checksums")
        if args.checksum_prev:
            prev = spark.read.parquet(args.checksum_prev)
            reconcile(
                spark.read.parquet(f"{args.output}/checksums"), prev
            ).write.mode("overwrite").parquet(
                f"{args.output}/checksum_reconcile")

    def collect_trends() -> None:
        """The report's trend rows, into ``trends``: the trend direction of
        each pair over the manifest's snapshot history as the commit will
        leave it, the committed history plus this run's metrics (needs ≥3
        committed snapshots per pair; empty until then)."""
        from anomaly_detection_spark.history import violation_trends

        trends.extend(
            r.asDict() for r in violation_trends(
                manifest.read().unionByName(result.metrics))
            .orderBy("partition", "rule_id").collect())

    def write_report(n_fail) -> None:
        """S4: small driver-side JSON summary — per-rule and per-partition
        roll-ups of this run's verdict grid, never per-row data — built
        from what the run holds once every branch has finished: the grid,
        the trends the metrics branch collected and the statuses the verdict
        diff was written with."""
        import json
        from collections import Counter
        from itertools import groupby

        def rollup(key):
            """(value, rows) groups of the grid by ``key``, ascending with
            NULL first, as Spark's orderBy sorts them."""
            rows = sorted(result.grid,
                          key=lambda r: (r[key] is not None, r[key]))
            return ((k, list(g)) for k, g in groupby(rows, lambda r: r[key]))

        per_rule = [
            {"rule_id": rid, "partitions": len(rs),
             "failing_partitions": sum(not r["pass"] for r in rs),
             "violations": sum(r["violation_count"] for r in rs)}
            for rid, rs in rollup("rule_id")
        ]
        # per-partition narrative rollup (≈ report_generator.py:358-482
        # generate_user_report/generate_department_report recast per
        # partition): top-3 failing rules by violations, totals
        per_part = [
            {
                "partition": part,
                "rules_failing": sum(not r["pass"] for r in rs),
                "violations": sum(r["violation_count"] for r in rs),
                "top_failing_rules": [
                    {"rule_id": r["rule_id"], "violations": r["violation_count"]}
                    for r in sorted(
                        (r for r in rs if not r["pass"]),
                        key=lambda r: (-r["violation_count"], r["rule_id"]),
                    )[:3]
                ],
            }
            for part, rs in rollup("partition")
        ]
        report = {"snapshot_id": args.snapshot_id, "failing_pairs": n_fail,
                  "rules": per_rule, "partitions": per_part}
        if manifest is not None:
            report["trends"] = trends
        if prev_verdicts is not None:
            report["verdict_diff"] = dict(Counter(diff_seen.get["status"]))
        with open(args.report_json, "w") as fh:
            json.dump(report, fh, indent=2)

    if args.preflight is not None:
        # triage BEFORE paying for the full scan: row rules fused into one
        # agg pass over a deterministic md5-bucket sample of the corpus
        from anomaly_detection_spark.engine import sampled_violation_rates

        pre = sampled_violation_rates(
            docs, rules.row_rules, run.ctx, sample_pct=args.preflight)
        pre.write.mode("overwrite").parquet(f"{args.output}/preflight")
        worst = (
            spark.read.parquet(f"{args.output}/preflight")
            .orderBy(F.desc("est_ppm"), "partition", "rule_id")
            .limit(1).collect()
        )
        if worst:
            w = worst[0]
            print(f"PREFLIGHT pct={args.preflight} "
                  f"worst={w['partition']}/{w['rule_id']} "
                  f"est_ppm={w['est_ppm']} sample_n={w['sample_n']}")
        else:
            print(f"PREFLIGHT pct={args.preflight} empty-sample")
        if args.preflight_only:
            if owns_session:
                spark.stop()
            return 0

    # Write order is the resume contract: data first, manifest last. The
    # commit is main's last step and the run's one atomic point: a crash
    # before it leaves the snapshot uncommitted, and the retry runs it in
    # full and overwrites every output, a torn one and the report included;
    # a --resume of a committed snapshot writes no sink (``pending`` is
    # false) and commits nothing.
    # The outputs are written by up to four concurrent branches, each a
    # sequence of steps on one driver thread; no branch reads another's
    # output. Once every branch has finished without error (a failure is
    # re-raised once every branch has finished, and then nothing is
    # written after it), the report is written, then the manifest committed:
    # - input-only: histograms, fingerprints, checksums. They read only the
    #   input, so they start before the grid action (the --baseline-hist
    #   rows they may rewrite were read into the JVM before);
    # - violations: the sink, then the outputs that read it back (CSV
    #   export, quarantine, co-occurrence, slices);
    # - verdicts: the sink, then the --diff-prev verdict diff;
    # - metrics: the sink, then the report's trends over the manifest plus
    #   this run's metrics (--report-json with --manifest), off the tail
    #   that follows the branches.
    # Each branch thread inherits the caller's Spark job group and tags.
    # The violations sink is laid out where it meets the writer, after the
    # cap: its file count follows bytes, not the partitions of the rule
    # branches that produced it (cluster_violations).
    input_steps = [step for flag, step in (
        (args.emit_histograms, write_histograms),
        (args.fingerprint_cols, write_fingerprints),
        (args.emit_checksums, write_checksums)) if flag]
    diff_seen, trends = Observation(), []
    result = None
    try:
        with ThreadPoolExecutor(max_workers=4) as pool:
            branches = []
            if input_steps:
                branches.append(start_branch(pool, spark, input_steps))
            result = run.run(resume=args.resume, commit_manifest=False)
            pending = bool(result.grid) or not args.resume

            violation_steps = [step for flag, step in (
                (pending, write_violations),
                (args.export_csv, export_csv),
                (args.quarantine, write_quarantine),
                (args.cooccurrence_report, write_cooccurrence),
                (args.slice_dims, write_slices)) if flag]
            if violation_steps:
                branches.append(start_branch(pool, spark, violation_steps))
            if pending or prev_verdicts is not None:
                branches.append(start_branch(pool, spark, [write_verdicts]))
            metric_steps = [step for flag, step in (
                (pending, lambda: write_sink("metrics", result.metrics)),
                (args.report_json and manifest is not None, collect_trends))
                if flag]
            if metric_steps:
                branches.append(start_branch(pool, spark, metric_steps))
            # the first failure in submission order is raised; leaving the
            # pool waits for every other branch before it propagates
            for branch in branches:
                branch.result()
        n_fail = sum(not r["pass"] for r in result.grid)
        if args.report_json:
            write_report(n_fail)
        if manifest is not None and result.grid:
            manifest.commit(result.metrics)
    finally:
        if result is not None:
            result.verdicts.unpersist()
            result.violations.unpersist()

    print(f"VALIDATION_DONE snapshot={args.snapshot_id} failing_pairs={n_fail}")
    if owns_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
