"""schema_match and row_count_drift dataset rules: planted drift must fail
every (affected) partition's verdict; clean input must pass everywhere."""

from __future__ import annotations

from pyspark.sql import functions as F

from anomaly_detection_spark.datagen import generate_documents
from anomaly_detection_spark.engine import ValidationRun
from anomaly_detection_spark.rules import builtin
from anomaly_detection_spark.rules.core import RuleSet

EXPECTED = [
    ("doc_id", "string"),
    ("partition", "string"),
    (
        "spans",
        "array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    ),
]


def _verdict_map(res):
    return {
        (r["partition"], r["rule_id"]): r["pass"] for r in res.verdicts.collect()
    }


def test_schema_match_passes_on_contract(spark, docs):
    exp = [(f.name, f.dataType.simpleString()) for f in docs.schema.fields]
    rules = RuleSet(dataset_rules=[builtin.schema_match(exp)])
    res = ValidationRun(spark, docs, rules).run(resume=False, persist=False)
    assert res.violations.count() == 0
    assert all(_verdict_map(res).values())


def test_schema_match_flags_missing_extra_and_type_drift(spark, docs):
    drifted = docs.withColumn("extra", F.lit(1)).withColumn(
        "doc_id", F.length("doc_id")  # string -> int type drift
    )
    rules = RuleSet(dataset_rules=[builtin.schema_match(EXPECTED)])
    res = ValidationRun(
        spark, drifted.drop("spans"), rules
    ).run(resume=False, persist=False)
    details = {r["detail"] for r in res.violations.select("detail").distinct().collect()}
    assert any(d.startswith("missing column spans") for d in details)
    assert any(d.startswith("type drift doc_id") for d in details)
    assert any(d.startswith("unexpected column extra") for d in details)
    # every partition's verdict row fails
    vm = _verdict_map(res)
    assert vm and not any(vm.values())


def test_row_count_drift_flags_shrunken_partition(spark, docs):
    parts = [r["partition"] for r in docs.select("partition").distinct().collect()]
    victim = sorted(parts)[0]
    # keep ~10% of the victim partition, everything else intact
    cur = docs.filter(
        (F.col("partition") != victim) | (F.crc32(F.col("doc_id")) % 10 == 0)
    )
    rules = RuleSet(dataset_rules=[builtin.row_count_drift(docs, max_rel_delta=0.5)])
    res = ValidationRun(spark, cur, rules).run(resume=False, persist=False)
    vm = _verdict_map(res)
    assert vm[(victim, "row_count_drift")] is False
    for p in parts:
        if p != victim:
            assert vm[(p, "row_count_drift")] is True
    detail = res.violations.filter(F.col("partition") == victim).collect()[0]["detail"]
    assert detail.startswith("rows ") and " -> " in detail


def test_row_count_drift_clean_when_within_tolerance(spark, docs):
    rules = RuleSet(dataset_rules=[builtin.row_count_drift(docs, max_rel_delta=0.1)])
    res = ValidationRun(spark, docs, rules).run(resume=False, persist=False)
    assert res.violations.count() == 0
    assert all(_verdict_map(res).values())


def test_schema_compat_every_class(spark):
    from anomaly_detection_spark.queries import QUERIES

    got = {r["name"]: (r["change"], r["compat"])
           for r in QUERIES["schema_compat_check"][0](spark, "").collect()}
    assert got["doc_id"] == ("unchanged", "ok")
    assert got["n_chars"] == ("widened", "ok")
    assert got["score"] == ("widened", "ok")
    assert got["lang"] == ("retyped", "breaking")
    assert got["legacy_flag"] == ("dropped", "breaking")
    assert got["source"] == ("requiredness_tightened", "breaking")
    assert got["loose"] == ("requiredness_loosened", "ok")
    assert got["embedding"] == ("added", "ok")
    assert got["checksum"] == ("added", "breaking")


def test_row_count_drift_matches_a_null_partition_to_its_baseline(spark):
    """A NULL partition is counted against its own baseline count, not as
    one partition that vanished and another that appeared."""
    from anomaly_detection_spark.rules.core import RuleContext

    d = spark.createDataFrame(
        [("d1", None), ("d2", None), ("d3", "p0")],
        "doc_id string, partition string")
    assert builtin.row_count_drift(d).build(d, RuleContext()).count() == 0
    grown = d.unionByName(spark.createDataFrame(
        [("d4", None), ("d5", None)], "doc_id string, partition string"))
    assert [(r["partition"], r["detail"]) for r in builtin.row_count_drift(
        d).build(grown, RuleContext()).collect()] == [(None, "rows 2 -> 4")]
