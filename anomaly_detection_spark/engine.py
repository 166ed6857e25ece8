"""ValidationRun — executes profiling + all rules in a minimal number of
passes and emits the engine's three output DataFrames plus a resume manifest.

Outputs (FIXTURES.md "output contracts"):

* ``violations`` — ``(partition, rule_id, doc_id, detail)`` one row per
  violating document per rule (≈ the reference's per-category anomaly dict,
  multidimensional_detector.py:33-38,877-888).
* ``verdicts``   — ``(partition, rule_id, pass, violation_count,
  rows_scanned)`` the per-partition pass/fail matrix (≈ risk_calculator.py's
  per-user score map recast as booleans).
* ``metrics``    — per (partition, rule_id) row counts + durations, appended
  to the manifest for resumability (≈ risk_history_tracker.py history).

Physical shape: all row rules are compiled into ONE fused ``select`` — a
single scan of the snapshot; each dataset rule contributes its own
aggregation/join topology. Verdicts derive from violation counts joined
against the full (partition × rule) grid so zero-violation pairs still get a
PASS row. ``ValidationRun.run`` materialises that grid ONCE, in one action,
and ``verdicts``/``metrics`` read the cached result — sinks, the manifest
commit, the failing-pair count and the report never re-run the rule
topology.

The snapshot is the unit of commit. A resume of a committed snapshot takes
the same path with both plans folded to empty relations, so no rule runs; a
snapshot not yet committed is evaluated in full.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from anomaly_detection_spark.rules.core import (
    VIOLATION_COLUMNS,
    RowRule,
    RuleContext,
    RuleSet,
    join_on_keys,
)

# DDL of the violations and verdicts sinks (the metrics sink is the
# manifest's MANIFEST_SCHEMA): the schema ``run_validation`` reads its own
# sinks back with
VIOLATIONS_SCHEMA = "partition string, rule_id string, doc_id string, detail string"
VERDICTS_SCHEMA = (
    "partition string, rule_id string, pass boolean, "
    "violation_count long, rows_scanned long"
)


#: ways ``cap_violations`` splits a (partition, rule_id) pair in its first
#: ranking phase
CAP_SALT_BUCKETS = 16


def cap_violations(violations: DataFrame, max_per_pair: int) -> DataFrame:
    """Deterministic exemplar sample: keep at most ``max_per_pair`` violation
    rows per (partition, rule_id), the smallest by (doc_id, detail).

    At 10^12 documents a rule that fails broadly would emit a violations
    table the size of the corpus; verdict counts must stay EXACT (they come
    from the full frame), but the *persisted* violation rows only need to be
    representative. Selection is a pure function of row content — no
    ``rand()``, no layout dependence — so a re-run picks the same
    exemplars.

    Skew-safe two-phase top-k: a hot (partition, rule_id) pair — one rule
    failing on 10^9 docs — would put all its rows in a single window task.
    Phase 1 ranks within (pair, salt) so the hot pair splits
    ``CAP_SALT_BUCKETS`` ways and survivors are ≤ CAP_SALT_BUCKETS × K per
    pair; phase 2's final rank then runs on that bounded set. Ties
    (byte-identical rows) are interchangeable, so the output multiset is
    deterministic even though row_number's choice among them isn't.
    """
    from pyspark.sql.window import Window

    order = [F.asc_nulls_first("doc_id"), F.asc_nulls_first("detail")]
    # hash the payload, not a partition id: spread must be layout-independent
    salt = F.pmod(F.xxhash64("doc_id", "detail"), F.lit(CAP_SALT_BUCKETS))
    w_local = Window.partitionBy("partition", "rule_id", "_s").orderBy(*order)
    w_final = Window.partitionBy("partition", "rule_id").orderBy(*order)
    pruned = (
        violations.withColumn("_s", salt)
        .withColumn("_r", F.row_number().over(w_local))
        .filter(F.col("_r") <= max_per_pair)
        .drop("_s", "_r")
    )
    return (
        pruned.withColumn("_r", F.row_number().over(w_final))
        .filter(F.col("_r") <= max_per_pair)
        .drop("_r")
    )


def rule_cooccurrence(violations: DataFrame) -> DataFrame:
    """Which rules fail TOGETHER: for every rule pair, how many documents
    violate both, plus the Jaccard overlap of their violator sets — the
    meta-analytics pass a rule author runs over the violations sink to find
    redundant rules (Jaccard ≈ 1: one rule subsumes the other) and common
    root causes (a bad upstream commit trips encoding + offsets + caption
    rules on the same docs).

    Output: ``(rule_a, rule_b, n_a, n_b, n_both, jaccard_ppm)`` with
    rule_a < rule_b; counts are distinct-document counts and jaccard is
    exact integer ppm (no float division).

    Plan at a corpus-sized violations table: dedupe (rule_id, doc_id) first
    — ONE hash agg — then self-join on doc_id. Per-document fan-out is
    bounded by the suite size R (a doc violates at most R rules), so the
    join emits ≤ R(R-1)/2 rows per doc — never quadratic in documents. The
    per-rule totals are a dimension-sized frame (one row per rule) joined
    back with broadcast hints."""
    v = violations.select("rule_id", "doc_id").where(
        F.col("doc_id").isNotNull()).distinct()
    totals = v.groupBy("rule_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = v.alias("a"), v.alias("b")
    pairs = (
        a.join(b, on="doc_id")
        .where(F.col("a.rule_id") < F.col("b.rule_id"))
        .groupBy(
            F.col("a.rule_id").alias("rule_a"),
            F.col("b.rule_id").alias("rule_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    ta = F.broadcast(totals.select(F.col("rule_id").alias("rule_a"),
                                   F.col("n").alias("n_a")))
    tb = F.broadcast(totals.select(F.col("rule_id").alias("rule_b"),
                                   F.col("n").alias("n_b")))
    out = pairs.join(ta, "rule_a").join(tb, "rule_b")
    union = F.col("n_a") + F.col("n_b") - F.col("n_both")
    return out.select(
        "rule_a", "rule_b", "n_a", "n_b", "n_both",
        (F.col("n_both") * 1_000_000).cast("long").alias("_num"), union.alias("_den"),
    ).select(
        "rule_a", "rule_b", "n_a", "n_b", "n_both",
        F.expr("_num div _den").alias("jaccard_ppm"),
    )


def violation_slices(docs: DataFrame, violations: DataFrame,
                     dims: list[str], min_support: int = 20,
                     ctx: RuleContext | None = None) -> DataFrame:
    """Root-cause slice localization: for each failing rule and each
    (dimension, value) slice of the corpus, the violation rate inside the
    slice vs the rule's overall rate — ranked by lift, this answers "WHERE
    is this rule failing?" (all the mojibake is in source=crawl-7; the
    short docs are 90% lang=zh). The slice-finder pass a rule author runs
    right after the verdict grid says something is red.

    Output: ``(rule_id, dim, value, slice_n, slice_viol, rate_ppm,
    overall_ppm, lift_x1000)`` — one row per (rule, slice) with at least
    one violation and ``slice_n >= min_support`` (tiny slices produce
    unstable lifts). All ratios are exact integer arithmetic: ppm of the
    slice / corpus, lift scaled ×1000 via integer division of the two ppm
    values — no float division anywhere, so results are engine-portable
    bit-for-bit.

    Plan at 10^12 docs: ONE stack-unpivot scan of the corpus projecting
    (doc_id, dim, value) — column-pruned to exactly the dims — feeding two
    map-side-combined hash aggs (slice sizes; slice×rule counts after one
    equi-join with the deduped violating-id set, fan-out per violating doc
    = len(dims), never corpus-shaped). Per-rule totals and the corpus
    count are dimension-sized frames broadcast back. NULL dim values form
    their own slice (value NULL) — missingness is often the root cause."""
    ctx = ctx or RuleContext()
    did = ctx.doc_id_col
    stack_args = ", ".join(
        f"'{c}', CAST(`{c}` AS STRING)" for c in dims)
    unpiv = docs.select(
        F.col(did).cast("string").alias("doc_id"),
        F.expr(f"stack({len(dims)}, {stack_args}) AS (dim, value)"),
    ).select("doc_id", "dim", "value")
    slice_n = unpiv.groupBy("dim", "value").agg(
        F.count(F.lit(1)).alias("slice_n"))
    n_docs = docs.select(
        F.count(F.lit(1)).alias("n_docs")).withColumn("_j", F.lit(1))

    v = violations.select(
        "rule_id", F.col("doc_id").cast("string").alias("doc_id")
    ).where(F.col("doc_id").isNotNull()).distinct()
    rule_tot = v.groupBy("rule_id").agg(F.count(F.lit(1)).alias("n_viol"))
    slice_viol = (
        v.join(unpiv, "doc_id")
        .groupBy("rule_id", "dim", "value")
        .agg(F.count(F.lit(1)).alias("slice_viol"))
    )
    # null-safe on value: the NULL slice must survive the join, not vanish
    # into equi-join semantics (missingness is often the root cause)
    sv, sn = slice_viol.alias("sv"), slice_n.alias("sn")
    out = (
        sv.join(sn, (F.col("sv.dim") == F.col("sn.dim"))
                & F.col("sv.value").eqNullSafe(F.col("sn.value")))
        .select("sv.rule_id", "sv.dim", "sv.value", "sv.slice_viol",
                "sn.slice_n")
        .join(F.broadcast(rule_tot), "rule_id")
        .withColumn("_j", F.lit(1))
        .join(F.broadcast(n_docs), "_j")
        .drop("_j")
        .where(F.col("slice_n") >= int(min_support))
    )
    return (
        out.withColumn(
            "rate_ppm", F.expr("(slice_viol * 1000000) div slice_n"))
        .withColumn(
            "overall_ppm", F.expr("(n_viol * 1000000) div n_docs"))
        .withColumn(
            "lift_x1000",
            # overall_ppm floors to 0 below 1-in-1e6 violation rates —
            # the normal case at 10^12 docs; clamp the divisor so rare
            # rules report lift against a 1-ppm floor instead of
            # throwing DIVIDE_BY_ZERO under ANSI mode.
            F.expr("(rate_ppm * 1000) div greatest(overall_ppm, 1)"))
        .select("rule_id", "dim", "value", "slice_n", "slice_viol",
                "rate_ppm", "overall_ppm", "lift_x1000")
    )


def _project_binds(docs: DataFrame, row_rules: list[RowRule]) -> DataFrame:
    """``docs`` plus one column per distinct ``bind`` of ``row_rules``, in
    one projection. Rules that bind a name to expressions that print the
    same share the column."""
    binds: dict = {}
    for r in row_rules:
        for name, col in r.bind.items():
            # a later rule silently clobbering an earlier rule's bind of
            # the same name (or shadowing a real input column) would
            # yield wrong verdicts with no error — fail loudly instead
            if name in binds and str(binds[name]) != str(col):
                raise ValueError(
                    f"conflicting bind {name!r}: two rules bind different "
                    f"expressions to the same name"
                )
            binds[name] = col
    clash = set(binds) & set(docs.columns)
    if clash:
        raise ValueError(
            f"bind names collide with input columns: {sorted(clash)}"
        )
    if not binds:
        return docs
    return docs.select("*", *[c.alias(name) for name, c in binds.items()])


def sampled_violation_rates(docs: DataFrame, row_rules: list[RowRule],
                            ctx: RuleContext | None = None,
                            sample_pct: int = 5) -> DataFrame:
    """Pre-flight validation estimate: evaluate the suite's ROW rules on a
    deterministic ``sample_pct``% slice of the corpus and report estimated
    per-(partition, rule) violation rates — the cheap first pass a 10^12-doc
    validation runs before committing to the full scan (is this snapshot
    obviously broken? which partitions need the full suite first?).

    Sampling is the md5 hash-bucket of the doc id (functions.curation.
    hash_bucket) — a pure filter that pushes into the scan, membership
    stable across snapshots so estimates are comparable run-over-run. All
    rule predicates are fused into ONE aggregation pass over the sample
    (``sum(case when violated)`` per rule — the same fused-single-scan
    discipline as the real engine), then unpivoted to one row per
    (partition, rule). Rates are exact integer ppm OF THE SAMPLE; the
    extrapolation error is the caller's statistics, not hidden float math.

    Output: ``(partition, rule_id, sample_n, n_viol, est_ppm)``."""
    from anomaly_detection_spark.functions.curation import hash_bucket

    ctx = ctx or RuleContext()
    if not row_rules:
        # stack(0, ) is malformed SQL — a dataset-rule-only suite has no
        # row predicates to preflight; return the empty panel explicitly.
        return docs.sparkSession.createDataFrame(
            [], "partition string, rule_id string, sample_n long, "
                "n_viol long, est_ppm long")
    sampled = docs.filter(
        hash_bucket(F.col(ctx.doc_id_col), 100) < int(sample_pct))
    aggs = [F.count(F.lit(1)).alias("_n")]
    for r in row_rules:
        aggs.append(
            F.sum(F.when(r.violation, F.lit(1)).otherwise(F.lit(0))).alias(
                f"_v_{r.rule_id}"))
    per_part = _project_binds(sampled, row_rules).groupBy(
        F.col(ctx.partition_col).alias("partition")).agg(*aggs)
    stack_args = ", ".join(
        f"'{r.rule_id}', `_v_{r.rule_id}`" for r in row_rules)
    long = per_part.select(
        "partition",
        F.col("_n").alias("sample_n"),
        F.expr(f"stack({len(row_rules)}, {stack_args}) "
               "AS (rule_id, n_viol)"),
    ).select("partition", "rule_id", "sample_n", "n_viol")
    return long.withColumn(
        "est_ppm", F.expr("(n_viol * 1000000) div sample_n"))


@dataclass
class ValidationResult:
    verdicts: DataFrame
    violations: DataFrame
    metrics: DataFrame
    #: the rows of ``verdicts``, collected by the action that built it;
    #: empty when a resume finds the snapshot committed
    grid: list[Row]


class ValidationRun:
    def __init__(
        self,
        spark: SparkSession,
        documents: DataFrame,
        rules: RuleSet,
        media_catalog: DataFrame | None = None,
        partition_col: str = "partition",
        doc_id_col: str = "doc_id",
        snapshot_id: str = "s0",
        manifest=None,
    ) -> None:
        self.spark = spark
        self.documents = documents
        self.rules = rules
        self.ctx = RuleContext(
            partition_col=partition_col,
            doc_id_col=doc_id_col,
            media_catalog=media_catalog,
        )
        self.snapshot_id = snapshot_id
        self.manifest = manifest

    # ------------------------------------------------------------------
    def fused_row_violations(self, docs: DataFrame) -> DataFrame:
        """All row rules in one projection: build an array of (rule_id, detail)
        structs — NULL when the rule passes — filter the NULLs, explode.
        One scan; Catalyst fuses everything into whole-stage codegen."""
        p, d = self.ctx.partition_col, self.ctx.doc_id_col
        if not self.rules.row_rules:
            return self.spark.createDataFrame([], VIOLATIONS_SCHEMA)
        docs = _project_binds(docs, self.rules.row_rules)
        hits = F.array(*[
            F.when(
                r.violation,
                F.struct(F.lit(r.rule_id).alias("rule_id"), r.detail.alias("detail")),
            )
            for r in self.rules.row_rules
        ])
        fired = F.filter(hits, lambda x: x.isNotNull())
        return (
            docs.select(
                F.col(p).alias("partition"),
                F.col(d).alias("doc_id"),
                F.explode(fired).alias("_v"),
            )
            .select(
                "partition",
                F.col("_v.rule_id").alias("rule_id"),
                "doc_id",
                F.col("_v.detail").alias("detail"),
            )
        )

    # ------------------------------------------------------------------
    def run(self, resume: bool = True, persist: bool = True,
            commit_manifest: bool = True) -> ValidationResult:
        """Execute the suite and materialise its (partition × rule) grid.

        One action builds the grid: a single job graph counts violations
        per pair and rows per partition, and the result is persisted in one
        partition (metadata-sized, so each grid sink is one file) and
        collected to the driver as ``grid``. ``verdicts`` is that cached
        frame and ``metrics`` a projection of it, so every consumer reads
        the grid instead of re-running the rules. The caller releases the
        caches with ``verdicts.unpersist()`` and ``violations.unpersist()``.

        ``metrics.duration_ms`` is the wall time of that grid action —
        executing every rule, the counts and, with ``persist=True``,
        filling the violations cache — not plan construction.
        ``metrics.committed_at`` is stamped once, when it ends, so every
        write of this run's metrics carries the same value.

        ``persist=True`` also caches the unioned violations frame
        (memory+disk), or the violations sink re-executes the whole rule
        topology. At cluster scale the equivalent is writing violations to
        their sink table first; violations are a small fraction of the
        input, so caching them is bounded by the defect rate, not the
        snapshot size.

        With a ``manifest`` and ``resume=True``, a ``snapshot_id`` the
        manifest holds is complete: the grid and the violations are empty
        relations, so the grid action runs no rule. Any other snapshot is
        evaluated in full.

        ``commit_manifest=False`` skips the internal manifest commit so the
        caller can write its sinks FIRST and commit afterwards (the resume
        contract: data first, manifest last — a crash in between re-evaluates,
        never skips). ``run_validation.py`` uses this; library callers that
        don't write sinks can keep the default. An empty grid commits
        nothing.
        """
        docs = self.documents
        p = self.ctx.partition_col
        parts = docs.groupBy(F.col(p).alias("partition")).agg(
            F.count("*").alias("rows_scanned")
        )

        violations = self.fused_row_violations(docs)
        for rule in self.rules.dataset_rules:
            violations = violations.unionByName(
                rule.build(docs, self.ctx).select(*VIOLATION_COLUMNS)
            )

        grid = self._with_rules(parts)
        if self.manifest is not None and resume \
                and self.manifest.committed(self.snapshot_id):
            # the optimizer folds both plans into empty local relations
            grid, violations = grid.limit(0), violations.limit(0)

        if persist:
            violations = violations.persist()
        counts = violations.groupBy("partition", "rule_id").agg(
            F.count("*").alias("violation_count")
        )
        # metadata-sized (partitions × rules): one partition keeps each grid
        # sink one file; cached JVM-side, so no consumer re-runs the rules
        # or starts Python workers
        verdicts = (
            join_on_keys(grid, counts, ["partition", "rule_id"], "left")
            .select(
                "partition",
                "rule_id",
                F.coalesce(F.col("violation_count"), F.lit(0)).alias("violation_count"),
                "rows_scanned",
                "max_violation_ppm",
            )
            # SLO verdict, pure integer: pass while count/rows ≤ budget ppm.
            # budget 0 reduces to the strict count == 0 (rows_scanned ≥ 1
            # for every grid row — partitions come from a groupBy of docs)
            .withColumn(
                "pass",
                F.col("violation_count") * F.lit(1_000_000)
                <= F.col("max_violation_ppm") * F.col("rows_scanned"),
            )
            .select("partition", "rule_id", "pass", "violation_count", "rows_scanned")
            .coalesce(1)
            .persist()
        )
        started = time.perf_counter()
        grid_rows = verdicts.collect()
        duration_ms = int((time.perf_counter() - started) * 1000)
        committed_at = datetime.now(timezone.utc)

        metrics = verdicts.select(
            "partition",
            "rule_id",
            F.lit(self.snapshot_id).alias("snapshot_id"),
            F.when(F.col("pass"), F.lit("pass")).otherwise(F.lit("fail")).alias("status"),
            "rows_scanned",
            "violation_count",
            F.lit(duration_ms).alias("duration_ms"),
            F.lit(committed_at).alias("committed_at"),
        )
        if self.manifest is not None and commit_manifest and grid_rows:
            self.manifest.commit(metrics)
        return ValidationResult(verdicts, violations, metrics, grid_rows)

    # ------------------------------------------------------------------
    def _with_rules(self, frame: DataFrame) -> DataFrame:
        """``frame`` × the suite's rules and their verdict BUDGETs (ppm of
        scanned rows allowed to violate; 0 = strict), generated from
        literals: no Python-built relation for the plan to broadcast."""
        rules = F.array(*[
            F.struct(F.lit(rid).alias("rule_id"),
                     F.lit(ppm).alias("max_violation_ppm"))
            for rid, ppm in self.rules.rule_budgets
        ]).cast("array<struct<rule_id:string,max_violation_ppm:bigint>>")
        return frame.select("*", F.inline(rules))


def dq_scores(panel: DataFrame, spec: dict[str, tuple[int, int]],
              partition_col: str = "partition", rule_col: str = "rule_id",
              ppm_col: str = "est_ppm") -> DataFrame:
    """Composite 0–100 data-quality score per partition from a
    per-(partition, rule) violation-ppm panel — the engine-side twin of
    the reference's 0–100 per-user risk score
    (``risk_calculator.py:31-35,132-155``): each rule contributes a
    weighted penalty ``w·min(ppm, cap)/cap`` (``cap`` = the ppm at which
    that rule's credit is exhausted), and the score is
    ``100·(1 − Σpenalty/Σw)`` in integer centi-points.

    All arithmetic is integer (two documented truncating divisions —
    per-term and final — so DuckDB replays it exactly); the panel is
    metadata-sized, so this is a free roll-up on top of
    ``sampled_violation_rates`` or the full run's verdict matrix. Also
    emits each partition's ``worst_rule`` (highest penalty term, ties to
    the lexicographically larger rule id).
    """
    from pyspark.sql.window import Window

    w_total = sum(w for w, _ in spec.values())
    cases = " ".join(
        f"WHEN {rule_col} = '{rid}' THEN "
        f"(CAST({w} AS BIGINT) * least({ppm_col}, {cap}) * 1000000) "
        f"div {cap}"
        for rid, (w, cap) in spec.items())
    term = F.expr(f"CASE {cases} ELSE CAST(0 AS BIGINT) END")
    t = panel.select(partition_col, rule_col, term.alias("_term"))
    agg = t.groupBy(partition_col).agg(F.sum("_term").alias("_t"))
    w = Window.partitionBy(partition_col).orderBy(
        F.desc("_term"), F.desc(rule_col))
    worst = (
        t.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(partition_col, F.col(rule_col).alias("worst_rule"))
    )
    scale = w_total * 1_000_000
    return agg.join(worst, partition_col).select(
        partition_col,
        F.expr(f"(({scale} - _t) * 10000) div {scale}")
        .cast("long").alias("dq_centi"),
        "worst_rule",
    )
