"""End-to-end rule-engine correctness against a pandas oracle.

The oracle recomputes every rule's expected violation set from the collected
synthetic table (seed-free deterministic generation), then asserts the
engine's violation rows and per-partition pass/fail matrix match EXACTLY —
the north_star parity requirement.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from anomaly_detection_spark.engine import ValidationRun
from anomaly_detection_spark.rules import builtin
from anomaly_detection_spark.rules.core import RuleSet


def _oracle_row_violations(docs_pd: pd.DataFrame) -> set[tuple]:
    """(partition, rule_id, doc_id) triples the fused row pass must emit."""
    out = set()
    for _, row in docs_pd.iterrows():
        part, did, spans = row["partition"], row["doc_id"], row["spans"]
        spans = list(spans) if spans is not None else []
        if did is None:
            out.add((part, "not_null:doc_id", None))
        if len(spans) == 0:
            out.add((part, "non_empty:spans", did))
        if any(s["kind"] == "text" and s["text"] is None for s in spans):
            out.add((part, "text_present_on_text_spans", did))
        if any(s["kind"] != "text" and s["media_ref"] is None for s in spans):
            out.add((part, "media_ref_present_on_media_spans", did))
        if any(s["kind"] not in ("text", "image", "audio", "table") for s in spans):
            out.add((part, "span_kinds_accepted", did))
        offs = [s["offset"] for s in spans]
        nn = sorted(o for o in offs if o is not None)
        if (
            any(o is None for o in offs)
            or any(o < 0 for o in nn)
            or any(a == b for a, b in zip(nn, nn[1:]))
        ):
            out.add((part, "offsets_valid_native", did))
    return out


@pytest.fixture(scope="module")
def result(spark, docs, catalog):
    rules = RuleSet(
        row_rules=builtin.default_document_rules()
        + [builtin.span_sequence_valid_row()],
        dataset_rules=[
            builtin.unique("doc_id"),
            builtin.referential(),
        ],
    )
    run = ValidationRun(spark, docs, rules, media_catalog=catalog)
    return run.run(resume=False)


def test_row_violations_exact(result, docs_pd):
    got = {
        (r["partition"], r["rule_id"], r["doc_id"])
        for r in result.violations.collect()
        if r["rule_id"]
        in {
            "not_null:doc_id", "non_empty:spans", "text_present_on_text_spans",
            "media_ref_present_on_media_spans", "span_kinds_accepted",
            "offsets_valid_native",
        }
    }
    assert got == _oracle_row_violations(docs_pd)


def test_uniqueness_exact(result, docs_pd):
    counts = docs_pd[docs_pd.doc_id.notna()].doc_id.value_counts()
    dups = set(counts[counts > 1].index)
    expected = {
        (r["partition"], r["doc_id"])
        for _, r in docs_pd.iterrows()
        if r["doc_id"] in dups
    }
    got = {
        (r["partition"], r["doc_id"])
        for r in result.violations.filter("rule_id = 'unique:doc_id'").collect()
    }
    assert got == expected and len(expected) > 0


def test_referential_exact(result, docs_pd, catalog):
    valid = {r["media_ref"] for r in catalog.collect()}
    expected = set()
    for _, row in docs_pd.iterrows():
        spans = list(row["spans"]) if row["spans"] is not None else []
        if any(
            s["media_ref"] is not None and s["media_ref"] not in valid for s in spans
        ):
            expected.add((row["partition"], row["doc_id"]))
    got = {
        (r["partition"], r["doc_id"])
        for r in result.violations.filter("rule_id = 'referential:media_ref'").collect()
    }
    assert got == expected and len(expected) > 0


def test_referential_ignores_duplicate_catalog_rows(spark, docs, catalog):
    """The catalog is broadcast without a distinct: repeating every catalog
    row leaves the referential violation rows unchanged."""
    from collections import Counter

    from anomaly_detection_spark.rules.core import RuleContext

    def rows(cat):
        return Counter(builtin.referential().build(
            docs, RuleContext(media_catalog=cat)).collect())

    once = rows(catalog)
    assert sum(once.values()) > 0
    assert rows(catalog.unionByName(catalog)) == once


_NULL_PART_DOCS = "partition string, doc_id string, spans array<int>"


def test_a_null_partition_keeps_its_violation_count(spark):
    """A NULL partition is a partition of the grid: its violations count
    toward its own verdict."""
    docs = spark.createDataFrame(
        [(None, None, [1]), (None, "d1", [1]), ("p0", "d2", [1])],
        _NULL_PART_DOCS)
    res = ValidationRun(
        spark, docs, RuleSet(row_rules=[builtin.not_null("doc_id")])
    ).run(resume=False)
    assert sorted(res.grid, key=lambda r: r["partition"] or "") == [
        (None, "not_null:doc_id", False, 1, 2),
        ("p0", "not_null:doc_id", True, 0, 1),
    ]
    res.verdicts.unpersist()
    res.violations.unpersist()


def test_unique_flags_duplicates_in_a_null_partition(spark):
    """``unique`` flags a doc_id duplicated inside the NULL partition, with
    one row per (partition, doc_id) as for any other partition."""
    from collections import Counter

    from anomaly_detection_spark.rules.core import RuleContext

    docs = spark.createDataFrame(
        [(None, "x", [1]), (None, "x", [1]), ("p0", "x", [1]),
         (None, "y", [1]), (None, "y", [1]), ("p1", "z", [1])],
        _NULL_PART_DOCS)
    got = Counter(tuple(r) for r in
                  builtin.unique("doc_id").build(docs, RuleContext()).collect())
    assert got == Counter([
        (None, "unique:doc_id", "x", "duplicate doc_id x3"),
        ("p0", "unique:doc_id", "x", "duplicate doc_id x3"),
        (None, "unique:doc_id", "y", "duplicate doc_id x2"),
    ])


def test_span_sequence_arrow_udf_matches_native(result):
    """input_hint invariant: the span-sequence rule (whose details are
    parity-tested against the Arrow UDF below) and the default suite's
    ``offsets_valid_native`` flag the same (partition, doc_id) sets."""
    arrow = {
        (r["partition"], r["doc_id"])
        for r in result.violations.filter("rule_id = 'span_sequence_valid'").collect()
    }
    native = {
        (r["partition"], r["doc_id"])
        for r in result.violations.filter("rule_id = 'offsets_valid_native'").collect()
    }
    # native also fires on empty-span docs? No: empty lists pass both. They
    # must agree exactly.
    assert arrow == native and len(arrow) > 0


def test_passfail_matrix(result, docs_pd):
    verd = {(r["partition"], r["rule_id"]): r for r in result.verdicts.collect()}
    # every (partition, rule) pair present
    parts = set(docs_pd["partition"])
    assert {k[0] for k in verd} == parts
    viol = result.violations.groupBy("partition", "rule_id").count().collect()
    counts = {(r["partition"], r["rule_id"]): r["count"] for r in viol}
    for key, row in verd.items():
        expected = counts.get(key, 0)
        assert row["violation_count"] == expected
        assert row["pass"] == (expected == 0)
    # rows_scanned matches partition sizes
    sizes = docs_pd.groupby("partition").size().to_dict()
    for (part, _), row in verd.items():
        assert row["rows_scanned"] == sizes[part]



SPAN_RULES = ["text_present_on_text_spans", "media_ref_present_on_media_spans",
              "span_kinds_accepted", "offsets_valid_native"]


def _span_traversals(run: ValidationRun, docs) -> int:
    plan = run.fused_row_violations(docs)._jdf.queryExecution()
    return plan.optimizedPlan().toString().count("aggregate(spans")


def test_config_span_rules_share_one_traversal(spark, docs, docs_pd):
    """The four span rules compiled from config are the builders the
    default suite uses: they flag the oracle's rows and walk the spans
    array once between them."""
    from anomaly_detection_spark.rules.config import suite_from_config

    suite = suite_from_config([{"rule": rid} for rid in SPAN_RULES])
    run = ValidationRun(spark, docs, suite)
    got = {(r["partition"], r["rule_id"], r["doc_id"])
           for r in run.fused_row_violations(docs).collect()}
    want = {v for v in _oracle_row_violations(docs_pd) if v[1] in SPAN_RULES}
    assert got == want and len(want) > 0
    assert _span_traversals(run, docs) == 1


def test_span_rules_over_different_kinds_bind_one_traversal_each(spark):
    """``span_kinds_accepted`` over its own kinds next to rules over the
    default kinds compiles (no bind conflict), with one span-stats
    traversal per distinct kinds list, and flags the same rows as when
    each rule walked the array itself."""
    import hashlib
    import json

    from anomaly_detection_spark import datagen
    from anomaly_detection_spark.rules.config import suite_from_config

    suite = suite_from_config([
        {"rule": "span_kinds_accepted", "kinds": ["text", "image"]},
        {"rule": "text_present_on_text_spans"},
        {"rule": "offsets_valid_native"},
    ])
    docs = datagen.generate_documents(spark, n_docs=500, n_partitions=4)
    run = ValidationRun(spark, docs, suite)
    assert _span_traversals(run, docs) == 2
    rows = sorted(
        (tuple(r) for r in run.run(resume=False).violations.collect()),
        key=lambda r: tuple("" if v is None else v for v in r))
    by_rule = {}
    for r in rows:
        by_rule[r[1]] = by_rule.get(r[1], 0) + 1
    assert by_rule == {"span_kinds_accepted": 285,
                       "text_present_on_text_spans": 1,
                       "offsets_valid_native": 3}
    # sha256 of the JSON of the sorted (partition, rule_id, doc_id, detail)
    # rows the per-rule array walks produced on this input
    assert hashlib.sha256(json.dumps(rows).encode()).hexdigest() == (
        "0686c09c883b928ce6f9b80ed4164ff6ec0e56913fd3e7161d84b6290cb54b91")

def _span_sequence_parity(spark, docs):
    """(partition, doc_id, detail) multisets: the native fused-pass rule vs
    the Arrow UDF that sorts spans by offset (the byte-for-byte oracle)."""
    from collections import Counter

    from anomaly_detection_spark.functions.spans import (
        span_sequence_invalid_reason,
    )

    run = ValidationRun(
        spark, docs, RuleSet(row_rules=[builtin.span_sequence_valid_row()]))
    native = Counter(
        (r["partition"], r["doc_id"], r["detail"])
        for r in run.fused_row_violations(docs).collect()
    )
    oracle = Counter(
        (r["partition"], r["doc_id"], r["detail"])
        for r in docs.select(
            "partition", "doc_id",
            span_sequence_invalid_reason("spans").alias("detail"),
        ).filter(F.col("detail").isNotNull()).collect()
    )
    return native, oracle


def test_span_sequence_row_rule_matches_arrow_udf(spark, docs):
    native, oracle = _span_sequence_parity(spark, docs)
    assert native == oracle and len(oracle) > 0


def test_span_sequence_row_rule_matches_arrow_udf_on_edge_rows(spark):
    """Every offset list of length <= 3 over NULL, the int32 extremes and
    small negatives/duplicates, plus NULL and empty spans: each detail
    string (which check fires first, list order, repeats) must equal the
    Arrow UDF's."""
    import itertools

    vals = [None, -(2**31), -3, -1, 0, 1, 2, 5, 2**31 - 1]
    lists = [list(t) for n in range(4) for t in itertools.product(vals, repeat=n)]
    lists += [[-3, -3, -1, -3], [5, 1, 5, 1, 5], [2**31 - 1] * 3, None]
    rows = [
        (f"p{i % 3}", f"e{i}",
         None if offs is None else
         [("text", "t", None, o) for o in offs])
        for i, offs in enumerate(lists)
    ]
    docs = spark.createDataFrame(
        rows,
        "partition string, doc_id string, "
        "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    native, oracle = _span_sequence_parity(spark, docs)
    details = {d for _, _, d in oracle}
    assert {"spans is NULL", "NULL offset",
            "negative offsets: [-3, -3, -3, -1]",
            "duplicate offsets: [1, 5]"} <= details
    assert native == oracle


def test_media_caption_adjacent_rule(spark):
    """Caption-adjacency through the REAL fused engine pass: media-first,
    null-caption, and media-after-media docs violate; text-only and
    properly captioned docs pass — offsets arrive scrambled to prove the
    in-row sort, not storage order, decides adjacency."""
    from anomaly_detection_spark.engine import ValidationRun
    from anomaly_detection_spark.rules.core import RuleSet

    def span(kind, text, off):
        return {"kind": kind, "text": text, "media_ref": None, "offset": off}

    rows = [
        # stored media-first but offset-ordered text->image: PASSES
        ("p0", "ok1", [span("image", None, 1), span("text", "cap", 0)]),
        ("p0", "ok2", [span("text", "a", 0)]),                    # text only
        ("p0", "bad_first", [span("image", None, 0), span("text", "c", 1)]),
        ("p0", "bad_nullcap", [span("text", None, 0), span("image", None, 1)]),
        ("p0", "bad_mm", [span("text", "c", 0), span("image", None, 1),
                          span("image", None, 2)]),
        # empty / NULL spans must not crash (sequence(1,0) is DESCENDING in
        # Spark → element_at on [] throws under ANSI without the guard) and
        # must PASS: no media span, nothing to caption.
        ("p0", "ok_empty", []),
        ("p0", "ok_null", None),
    ]
    docs = spark.createDataFrame(
        rows,
        "partition string, doc_id string, "
        "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    suite = RuleSet(row_rules=[builtin.media_caption_adjacent()])
    res = ValidationRun(spark, docs, suite).run(resume=False)
    got = {(r["doc_id"], r["rule_id"]) for r in res.violations.collect()}
    assert got == {
        ("bad_first", "media_caption_adjacent"),
        ("bad_nullcap", "media_caption_adjacent"),
        ("bad_mm", "media_caption_adjacent"),
    }


def test_media_run_cap_rule(spark):
    """Image-wall rule through the fused engine pass: >max_run consecutive
    media spans IN OFFSET ORDER violate; a text span offset-interleaved
    into a stored run breaks it (storage order scrambled to prove the
    sort); empty/NULL spans pass without crashing."""
    from anomaly_detection_spark.engine import ValidationRun
    from anomaly_detection_spark.rules.core import RuleSet

    def span(kind, off):
        return {"kind": kind, "text": "t" if kind == "text" else None,
                "media_ref": "m" if kind != "text" else None, "offset": off}

    rows = [
        ("p0", "ok_pair", [span("image", 1), span("image", 2), span("text", 0)]),
        # stored as img,img,img but a text span sits at offset 2: PASSES
        ("p0", "ok_broken", [span("image", 1), span("image", 3),
                             span("image", 4), span("text", 2), span("text", 0)]),
        ("p0", "bad_run3", [span("text", 0), span("image", 1),
                            span("image", 2), span("audio", 3)]),
        ("p0", "bad_run_at_start", [span("image", 0), span("image", 1),
                                    span("image", 2), span("text", 3)]),
        ("p0", "ok_empty", []),
        ("p0", "ok_null", None),
    ]
    docs = spark.createDataFrame(
        rows,
        "partition string, doc_id string, "
        "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    suite = RuleSet(row_rules=[builtin.media_run_cap(max_run=2)])
    res = ValidationRun(spark, docs, suite).run(resume=False)
    got = {(r["doc_id"], r["rule_id"]) for r in res.violations.collect()}
    assert got == {
        ("bad_run3", "media_run_cap:2"),
        ("bad_run_at_start", "media_run_cap:2"),
    }
