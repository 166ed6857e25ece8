"""Arrow-vectorized UDFs over the nested ``spans`` column.

No engine path calls these: the validation suite's rules are JVM-side Column
expressions. They pin the BASELINE.json input_hint invariant in its literal
form — *span-sequence equality (kind, text, media_ref, order) verified by
sorting spans by offset inside an Arrow UDF* — and serve as the oracle the
native rule ``rules.builtin.span_sequence_valid_row`` is tested against
byte for byte; they also exercise the ``array<struct<...>>`` round trip
through Arrow (SURVEY.md §7 "what's hard").

Each UDF receives an Arrow batch as a pandas Series whose elements are the
span lists; work happens per batch, never per Spark row in the executor loop.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType


def _canonical(items) -> str:
    """Offset-sorted canonical signature 'kind|text|media_ref' joined by ';'.

    Sort key is (offset, kind, text, media_ref) so duplicate offsets still
    yield a deterministic signature.
    """
    def key(s):
        # offsets may arrive as float64/NaN when the Arrow batch contains
        # any NULL offset (the int32 child array is batch-wide) — normalize
        # to int / sentinel so ordering is deterministic per row, not per
        # batch composition
        o = s["offset"]
        o = -(2**31) if pd.isna(o) else int(o)
        return (o, s["kind"] or "", s["text"] or "", s["media_ref"] or "")

    return ";".join(
        f"{s['kind'] or ''}|{s['text'] or ''}|{s['media_ref'] or ''}"
        for s in sorted(items, key=key)
    )


@F.pandas_udf(StringType())
def span_signature(spans: pd.Series) -> pd.Series:
    """Canonical offset-sorted sequence signature per document.

    Two documents have equal span *sequences* (kind, text, media_ref, order)
    iff their signatures are equal — the reference-parity invariant.
    """
    return pd.Series(
        [None if s is None else _canonical(s) for s in spans],
        index=spans.index, dtype="object",
    )


@F.pandas_udf(StringType())
def span_sequence_invalid_reason(spans: pd.Series) -> pd.Series:
    """NULL when the span sequence is valid; else a reason string.

    Valid ⇔ spans is a non-null list whose offsets are all non-negative and
    pairwise distinct (i.e. sorting by offset yields a strict total order).
    Empty lists are valid here — emptiness is a separate row rule.
    """

    def check(items):
        if items is None:
            return "spans is NULL"
        offs = [s["offset"] for s in items]
        # pd.isna, not `is None`: a batch containing ANY null offset makes
        # Arrow hand the offsets of EVERY row in the batch over as float64
        # (NaN for nulls) — and then int() formatting below keeps reason
        # strings identical to batches that carried int32
        if any(pd.isna(o) for o in offs):
            return "NULL offset"
        neg = [int(o) for o in offs if o < 0]
        if neg:
            return f"negative offsets: {sorted(neg)}"
        srt = sorted(int(o) for o in offs)
        dups = sorted({a for a, b in zip(srt, srt[1:]) if a == b})
        if dups:
            return f"duplicate offsets: {dups}"
        return None

    return pd.Series([check(s) for s in spans], index=spans.index, dtype="object")


@F.pandas_udf(LongType())
def span_count(spans: pd.Series) -> pd.Series:
    """Arrow-UDF twin of ``F.size(spans)`` (used in UDF-parity tests)."""
    return pd.Series(
        [0 if s is None else len(s) for s in spans], index=spans.index, dtype="int64"
    )
