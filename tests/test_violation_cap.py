"""cap_violations — deterministic exemplar sampling of the violations sink.

Verdict counts must stay exact (they derive from the full frame); the capped
frame must hold at most K rows per (partition, rule_id), selected as the
smallest (doc_id, detail) — recomputed independently in pandas — and the
two-phase plan must rank within a salted window first so a hot pair never
lands in a single window task.
"""

from __future__ import annotations

import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from anomaly_detection_spark.engine import ValidationRun, cap_violations
from anomaly_detection_spark.rules import builtin
from anomaly_detection_spark.rules.core import RuleSet

K = 1  # fixture defect density is ~2 per pair, so K=1 makes the cap bite


@pytest.fixture(scope="module")
def result(spark, docs, catalog):
    rules = RuleSet(
        row_rules=builtin.default_document_rules(),
        dataset_rules=[builtin.unique("doc_id"), builtin.referential()],
    )
    return ValidationRun(spark, docs, rules, media_catalog=catalog).run(
        resume=False)


@pytest.fixture(scope="module")
def capped(result):
    return cap_violations(result.violations, K).cache()


def _key(row):
    # asc_nulls_first on both order columns
    return (row["doc_id"] is not None, row["doc_id"] or "",
            row["detail"] is not None, row["detail"] or "")


def test_at_most_k_per_pair(capped):
    over = (
        capped.groupBy("partition", "rule_id")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > K)
    )
    assert over.count() == 0


def test_counts_exact_and_selection_smallest(result, capped):
    full = result.violations.toPandas()
    got = capped.toPandas()
    for (part, rid), grp in full.groupby(["partition", "rule_id"]):
        rows = sorted(grp.to_dict("records"), key=_key)
        want = {(r["doc_id"], r["detail"]) for r in rows[:K]}
        sel = got[(got["partition"] == part) & (got["rule_id"] == rid)]
        have = {(r["doc_id"], r["detail"]) for r in sel.to_dict("records")}
        # ties (byte-identical rows) make the cut ambiguous only among
        # identical rows, so set equality is the right comparison
        assert have == want, (part, rid)
    # and nothing invented: every capped row exists in the full frame
    full_set = {(r["partition"], r["rule_id"], r["doc_id"], r["detail"])
                for r in full.to_dict("records")}
    for r in got.to_dict("records"):
        assert (r["partition"], r["rule_id"], r["doc_id"], r["detail"]) \
            in full_set


def test_verdicts_unaffected(result, capped):
    """Exact violation_count per pair == full-frame count, even where the
    capped frame holds fewer rows (the point of the feature)."""
    full_counts = {
        (r["partition"], r["rule_id"]): r["n"]
        for r in result.violations.groupBy("partition", "rule_id")
        .agg(F.count("*").alias("n")).collect()
    }
    for r in result.verdicts.filter("violation_count > 0").collect():
        assert full_counts[(r["partition"], r["rule_id"])] \
            == r["violation_count"]
    # sanity: the fixture corpus actually exercises the cap
    assert any(n > K for n in full_counts.values())


def test_hot_pair_capped_deterministically(spark):
    """A single (partition, rule) pair with many violations — the skew case
    the salted phase exists for — still returns exactly the K smallest."""
    n = 5000
    v = spark.range(n).select(
        F.lit("p0").alias("partition"),
        F.lit("hot_rule").alias("rule_id"),
        F.format_string("d%08d", F.col("id")).alias("doc_id"),
        F.lit("x").alias("detail"),
    )
    got = [r["doc_id"] for r in
           cap_violations(v, 3).orderBy("doc_id").collect()]
    assert got == ["d00000000", "d00000001", "d00000002"]


def test_cli_caps_sink_but_not_verdicts(spark, docs, catalog, tmp_path):
    """--max-violations-per-pair bounds the violations PARQUET SINK while the
    verdicts sink keeps exact counts; combining it with --quarantine is
    refused (routing needs the full violating-id set)."""
    import duckdb
    import run_validation

    docs.write.parquet(str(tmp_path / "docs"))
    catalog.write.parquet(str(tmp_path / "catalog"))
    out = str(tmp_path / "out")
    rc = run_validation.main([
        "--input", str(tmp_path / "docs"),
        "--catalog", str(tmp_path / "catalog"),
        "--output", out, "--max-violations-per-pair", "1",
    ])
    assert rc == 0
    over = duckdb.sql(
        f"SELECT partition, rule_id, COUNT(*) n FROM '{out}/violations/*.parquet' "
        "GROUP BY 1, 2 HAVING COUNT(*) > 1"
    ).fetchall()
    assert over == []
    # verdicts still carry counts the capped sink can't reach
    assert duckdb.sql(
        f"SELECT max(violation_count) FROM '{out}/verdicts/*.parquet'"
    ).fetchone()[0] > 1

    with pytest.raises(SystemExit):
        run_validation.parse_args([
            "--input", "x", "--catalog", "y", "--output", "z",
            "--max-violations-per-pair", "1", "--quarantine", "q",
        ])
    with pytest.raises(SystemExit):
        run_validation.parse_args([
            "--input", "x", "--catalog", "y", "--output", "z",
            "--max-violations-per-pair", "0",
        ])


def test_plan_ranks_salted_first(result):
    """Two Window nodes; the first (inner) one partitions by the salt too,
    so no single task ever sees a whole hot pair."""
    plan = cap_violations(result.violations, K)._jdf.queryExecution() \
        .executedPlan().toString()
    # AQE's AdaptiveSparkPlan prints the plan twice (Current + Initial) —
    # keep one copy or every node double-counts
    plan = plan.split("== Initial Plan ==")[0]
    # "Window [row_number()..." are the rank nodes; WindowGroupLimit lines
    # (Spark's partial top-k pushdown around them — a bonus) also mention
    # row_number and must not be counted
    windows = [ln for ln in plan.splitlines()
               if "Window [row_number()" in ln]
    assert len(windows) == 2
    inner = windows[-1]  # physical plans print outermost first
    assert "_s" in inner, inner
    assert "_s" not in windows[0]


@pytest.fixture(scope="module")
def cli_inputs(docs, catalog, tmp_path_factory):
    base = tmp_path_factory.mktemp("layout")
    docs.write.parquet(str(base / "docs"))
    catalog.write.parquet(str(base / "catalog"))
    return ["--input", str(base / "docs"), "--catalog", str(base / "catalog")]


@pytest.fixture(scope="module")
def plain_out(cli_inputs, tmp_path_factory):
    import run_validation

    out = str(tmp_path_factory.mktemp("plain") / "out")
    assert run_validation.main(cli_inputs + ["--output", out]) == 0
    return out


def _parquet_files(path):
    return {f for f in os.listdir(path) if f.endswith(".parquet")}


def _file_rows(path):
    import pyarrow.parquet as pq

    t = pq.read_table(path).select(["partition", "rule_id", "doc_id", "detail"])
    return [tuple(r.values()) for r in t.to_pylist()]


def _nulls_first(row):
    return tuple((v is not None, v or "") for v in row)


@pytest.mark.parametrize("how", ["plain", "capped"])
def test_violations_sink_is_one_file_sorted_by_pair(spark, cli_inputs,
                                                    plain_out, tmp_path, how):
    """Whether main caps violations or not, the run writes them as one
    parquet file for this corpus, clustered by pair and sorted by (partition,
    rule_id, doc_id, detail) with NULLs first; rows and verdicts stay those
    of the plain run."""
    import run_validation

    def sink(out, name):
        return spark.read.parquet(f"{out}/{name}")

    plain = Counter(tuple(r) for r in sink(plain_out, "violations").collect())
    out, want = plain_out, plain
    if how == "capped":
        out = str(tmp_path / "out")
        assert run_validation.main(cli_inputs + [
            "--output", out, "--max-violations-per-pair", "2"]) == 0
        by_pair = {}
        for r in sorted(plain.elements(), key=_nulls_first):
            by_pair.setdefault(r[:2], []).append(r)
        want = Counter(r for rows in by_pair.values() for r in rows[:2])

    written = _parquet_files(f"{out}/violations")
    assert len(written) == 1, sorted(written)
    rows = _file_rows(f"{out}/violations/{written.pop()}")
    assert rows and rows == sorted(rows, key=_nulls_first)
    assert Counter(tuple(r) for r in sink(out, "violations").collect()) == want
    verdicts = sink(out, "verdicts").collect()
    assert Counter(tuple(r) for r in verdicts) == \
        Counter(tuple(r) for r in sink(plain_out, "verdicts").collect())
    # the uncapped sink holds every counted violation
    assert Counter(r[:2] for r in plain.elements()) == {
        (r["partition"], r["rule_id"]): r["violation_count"]
        for r in verdicts if r["violation_count"]}
