"""Property-based tests (hypothesis) for the span-validation UDF cores —
driven through the pandas functions directly (no Spark session), including
the Arrow float64+NaN batch-widening representation that the int-typed
offsets arrive in whenever ANY row of a batch carries a NULL element
(the round-2 ADVICE crash class)."""

import math

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from anomaly_detection_spark.functions.spans import span_sequence_invalid_reason

spans_fn = span_sequence_invalid_reason.func

opt_int = st.one_of(st.none(), st.integers(min_value=-5, max_value=5))
offsets_list = st.one_of(st.none(), st.lists(opt_int, max_size=6))


def reference(offs):
    """Independent statement of the rule's contract."""
    if offs is None:
        return "spans is NULL"
    if any(o is None for o in offs):
        return "NULL offset"
    neg = sorted(o for o in offs if o < 0)
    if neg:
        return f"negative offsets: {neg}"
    srt = sorted(offs)
    dups = sorted({a for a, b in zip(srt, srt[1:]) if a == b})
    if dups:
        return f"duplicate offsets: {dups}"
    return None


def as_struct_batch(rows, offset=lambda o: o):
    """One span struct per offset; ``offset`` maps each offset value to its
    Arrow-side representation."""
    return pd.Series(
        [None if r is None
         else [{"kind": "text", "text": "x", "media_ref": None,
                "offset": offset(o)} for o in r]
         for r in rows],
        dtype="object",
    )


def widened(o):
    """Arrow's widened form: int children become float64 with NaN."""
    return np.float64(math.nan if o is None else o)


@settings(max_examples=300, deadline=None)
@given(st.lists(offsets_list, min_size=1, max_size=8))
def test_offsets_reason_matches_reference_in_both_representations(rows):
    want = [reference(r) for r in rows]
    assert list(spans_fn(as_struct_batch(rows))) == want
    # the widened batch must produce IDENTICAL verdicts AND reason strings
    assert list(spans_fn(as_struct_batch(rows, widened))) == want
