"""Arrow-UDF span functions: signature equality semantics + parity with
native expressions (input_hint per-row invariant). The span-sequence
reason UDF's parity with the native rule lives in test_engine_rules.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from anomaly_detection_spark.functions.spans import (
    span_count,
    span_signature,
)


def _py_signature(spans) -> str | None:
    if spans is None:
        return None
    def key(s):
        return (
            s["offset"] if s["offset"] is not None else -(2**31),
            s["kind"] or "", s["text"] or "", s["media_ref"] or "",
        )
    return ";".join(
        f"{s['kind'] or ''}|{s['text'] or ''}|{s['media_ref'] or ''}"
        for s in sorted(spans, key=key)
    )


def test_signature_matches_python_oracle(docs, docs_pd):
    got = {
        r["doc_id"]: r["sig"]
        for r in docs.select("doc_id", span_signature("spans").alias("sig"))
        .filter(F.col("doc_id").isNotNull()).collect()
    }
    uniq = docs_pd[docs_pd.doc_id.notna()].drop_duplicates("doc_id", keep="first")
    for _, row in uniq.iterrows():
        # duplicates may disagree on spans; only assert on unique doc_ids
        if (docs_pd.doc_id == row.doc_id).sum() > 1:
            continue
        assert got[row.doc_id] == _py_signature(list(row.spans)), row.doc_id


def test_signature_order_invariance(spark):
    """Scrambled storage order must not change the signature — the whole
    point of sorting by offset inside the UDF."""
    df = spark.createDataFrame(
        [
            ("a", [("text", "hello", None, 2), ("image", None, "m1", 0), ("text", "x", None, 1)]),
            ("b", [("image", None, "m1", 0), ("text", "x", None, 1), ("text", "hello", None, 2)]),
        ],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    sigs = {r["doc_id"]: r["sig"] for r in df.select("doc_id", span_signature("spans").alias("sig")).collect()}
    assert sigs["a"] == sigs["b"] == "image||m1;text|x|;text|hello|"


def test_span_count_parity_with_size(docs):
    mismatch = (
        docs.select(F.size("spans").alias("a"), span_count("spans").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .count()
    )
    assert mismatch == 0
