"""Builtin constraint rules for the interleaved-documents table.

Row rules are pure Column expressions (fused by the engine into one scan).
``span_sequence_valid_row`` is one of them: offsets non-NULL, non-negative
and pairwise distinct, with the reason strings of the Arrow UDF
``functions.spans.span_sequence_invalid_reason`` (parity-tested).
Dataset rules carry their own distributed topology:

* ``unique``              — doc_id uniqueness via a JVM hash-agg (map-side
                            partial agg, one shuffle).
* ``referential``         — dangling ``media_ref`` vs the media catalog via a
                            *broadcast left-anti join* (≈ the reference's LDAP
                            dimension lookup, SURVEY.md J2).
"""

from __future__ import annotations

import functools
import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from anomaly_detection_spark.rules.core import (
    DatasetRule, RowRule, RuleContext, join_on_keys)
from anomaly_detection_spark.functions.text import encoding_anomaly_count


# ---------------------------------------------------------------- row rules

def not_null(col: str, rule_id: str | None = None) -> RowRule:
    """≈ required-column presence check, data_loader.py:49-52 (made row-level
    and first-class instead of a log warning)."""
    return RowRule(
        rule_id=rule_id or f"not_null:{col}",
        violation=F.col(col).isNull(),
        detail=F.lit(f"{col} is NULL"),
    )


def matches_regex(col: str, pattern: str,
                  rule_id: str | None = None) -> RowRule:
    """Format-contract rule (Deequ hasPattern analogue): every non-NULL
    value of ``col`` must fully satisfy ``pattern`` (caller supplies
    anchors — pass '^..$' for a full match). NULLs are NOT format
    violations (``not_null`` owns missingness; coupling them would make
    one defect fire two rules). Use conservative regex syntax (no
    lookaround/backrefs) so the same pattern is portable to RE2-based
    oracles. Compiled into the fused single-scan row pass like every
    RowRule; with ``max_violation_ppm`` this becomes the soft form
    "at least 1-x of the column matches".

    Reference analogue: data_loader.py's implicit per-column format
    assumptions, made an enforced contract."""
    c = F.col(col)
    return RowRule(
        rule_id=rule_id or f"format:{col}",
        violation=c.isNotNull() & ~c.cast("string").rlike(pattern),
        detail=F.concat(F.lit(f"{col} breaks format {pattern}: "),
                        F.substring(c.cast("string"), 1, 80)),
    )


def non_empty_array(col: str, rule_id: str | None = None) -> RowRule:
    return RowRule(
        rule_id=rule_id or f"non_empty:{col}",
        violation=F.col(col).isNull() | (F.size(F.col(col)) == 0),
        detail=F.lit(f"{col} is empty"),
    )


def accepted_values(col: str, values: list[str], rule_id: str | None = None,
                    allow_null: bool = False) -> RowRule:
    """``allow_null=True`` lets NULLs pass (Deequ ``isContainedIn``
    semantics — completeness is a separate rule); the default treats NULL
    as a violation, matching the original suite behavior."""
    bad = ~F.col(col).isin(values)
    bad = (F.col(col).isNotNull() & bad) if allow_null else (bad | F.col(col).isNull())
    return RowRule(
        rule_id=rule_id or f"accepted_values:{col}",
        violation=bad,
        detail=F.concat(F.lit(f"{col}="), F.coalesce(F.col(col).cast("string"), F.lit("NULL"))),
    )


def in_range(col: str, lo: int, hi: int, rule_id: str | None = None) -> RowRule:
    """Numeric bounds check (the enforcement half of suggest_rules'
    ``in_range`` suggestion). NULLs pass — completeness is its own rule."""
    c = F.col(col)
    return RowRule(
        rule_id=rule_id or f"in_range:{col}",
        violation=c.isNotNull() & ((c < F.lit(lo)) | (c > F.lit(hi))),
        detail=F.concat(F.lit(f"{col}="), c.cast("string")),
    )


def min_completeness(col: str, min_ppm: int,
                     rule_id: str | None = None) -> DatasetRule:
    """Per-partition completeness floor: the partition fails when its
    non-null ppm for ``col`` drops below ``min_ppm`` (the enforcement half
    of suggest_rules' ``min_completeness_ppm`` suggestion — Deequ's
    ``hasCompleteness >= x``, at the verdict grid's per-partition
    granularity; a floor learned from a table-global profile therefore
    binds the WORST partition — derate it if partitions legitimately
    vary). One map-side-combined count agg per partition; exact integer
    ppm, no doubles."""
    rid = rule_id or f"min_completeness:{col}"

    def build(docs: DataFrame, ctx: RuleContext) -> DataFrame:
        p = ctx.partition_col
        agg = docs.groupBy(F.col(p).alias("partition")).agg(
            F.count(F.lit(1)).alias("_rows"),
            F.count(col).alias("_nn"),
        )
        ppm = F.expr("(_nn * 1000000) DIV _rows")
        return (
            agg.filter((F.col("_rows") > 0) & (ppm < F.lit(min_ppm)))
            .select(
                "partition",
                F.lit(rid).alias("rule_id"),
                F.lit(None).cast("string").alias("doc_id"),
                F.concat(
                    F.lit("completeness_ppm "), ppm.cast("string"),
                    F.lit(f" < {min_ppm}"),
                ).alias("detail"),
            )
        )

    return DatasetRule(rule_id=rid, build=build)


def no_pii(spans_col: str = "spans", kinds: list[str] | None = None,
           rule_id: str = "no_pii") -> RowRule:
    """No unredacted PII in any text span — the screen an LLM training
    corpus runs before shipping (functions/pii.py patterns: email / IPv4 /
    phone / SSN / card; Java-regex == RE2 semantics).

    The concatenated text-span payload is computed once via ``bind`` and the
    per-category ``regexp_count`` runs JVM-side inside the fused pass — at
    10^12 docs this adds zero shuffles, only per-row scan work.
    """
    from anomaly_detection_spark.functions import pii

    cats = kinds or list(pii.PII_PATTERNS)
    bound = "_pii_text"
    # spans.text (GetArrayStructFields) + array_join, NOT a filter/transform
    # lambda pair: HOF lambdas are interpreted per element and block nested-
    # schema pruning, and array_join already skips NULL text (non-text
    # spans). Scanning every span's text is also the safer semantics — PII
    # in a mislabeled span still gets flagged.
    txt = F.array_join(F.col(f"{spans_col}.text"), " ")
    n = {k: F.regexp_count(F.col(bound), F.lit(pii.PII_PATTERNS[k])) for k in cats}
    # Hot path = existence only, two regexes total: a cheap prescreen
    # implied by every pattern (email needs '@', IPv4 digit.digit,
    # phone/SSN/card digit-digit), then ONE alternation of the category
    # patterns. The five per-category counts appear only in the detail,
    # which the engine evaluates lazily for violating rows (CaseWhen
    # branches are lazy in codegen) — clean corpora never pay them.
    prescreen = F.col(bound).rlike("[0-9][.-][0-9]|@")
    combined = "|".join(f"(?:{pii.PII_PATTERNS[k]})" for k in cats)
    return RowRule(
        rule_id=rule_id,
        violation=F.when(prescreen, F.col(bound).rlike(combined)
                         ).otherwise(F.lit(False)),
        detail=F.concat_ws(
            " ", *[F.concat(F.lit(f"{k}="), n[k].cast("string")) for k in cats]
        ),
        bind={bound: txt},
    )


DEFAULT_KINDS = ["text", "image", "audio", "table"]


def _span_stats_expr(spans_col: str, kinds: list[str]) -> Column:
    """ONE traversal of the spans array computing every per-span violation
    counter the span rules need. Higher-order-function lambdas are
    interpreted per element, so five separate exists/filter traversals cost
    ~5× this single aggregate — the dominant JVM cost of the fused pass at
    10^8+ rows."""
    zero = F.struct(
        F.lit(0).alias("text_missing"),
        F.lit(0).alias("media_missing"),
        F.lit(0).alias("bad_kind"),
        F.lit(0).alias("neg_off"),
        F.lit(0).alias("null_off"),
    )

    def step(acc, s):
        b = lambda c: F.when(c, 1).otherwise(0)  # noqa: E731
        return F.struct(
            (acc["text_missing"] + b((s["kind"] == "text") & s["text"].isNull())).alias("text_missing"),
            (acc["media_missing"] + b((s["kind"] != "text") & s["media_ref"].isNull())).alias("media_missing"),
            (acc["bad_kind"] + b(s["kind"].isNull() | ~s["kind"].isin(kinds))).alias("bad_kind"),
            (acc["neg_off"] + b(s["offset"] < 0)).alias("neg_off"),
            (acc["null_off"] + b(s["offset"].isNull())).alias("null_off"),
        )

    return F.aggregate(F.col(spans_col), zero, step)


@functools.lru_cache(maxsize=None)
def _span_stats_bind(spans_col: str, kinds: tuple[str, ...]) -> tuple[str, Column]:
    """The span-stats bind for one ``(spans_col, kinds)``: its name and
    expression. Memoised, so every span rule over the same key binds the
    SAME Column object — ``aggregate`` lambdas get fresh variable names on
    each build, and the engine only shares binds whose expressions print
    identically. The name carries the key: rules over different ``kinds``
    get one traversal each instead of a bind conflict."""
    key = hashlib.sha1(repr((spans_col, kinds)).encode()).hexdigest()[:8]
    return f"_span_stats_{key}", _span_stats_expr(spans_col, list(kinds))


def _span_stats(spans_col: str, kinds: list[str] = DEFAULT_KINDS
                ) -> tuple[Column, dict[str, Column]]:
    """(the stats struct column, its bind) for a span rule."""
    name, expr = _span_stats_bind(spans_col, tuple(kinds))
    return F.col(name), {name: expr}


def span_kinds_accepted(kinds: list[str], spans_col: str = "spans") -> RowRule:
    """Every span's kind is one of ``kinds`` (a NULL kind or a NULL span
    element violates). The detail walks the array again, but only for
    violating rows (CaseWhen branches are lazy in codegen)."""
    st, bind = _span_stats(spans_col, kinds)
    bad = F.filter(F.col(spans_col), lambda s: ~s["kind"].isin(kinds) | s["kind"].isNull())
    return RowRule(
        rule_id="span_kinds_accepted",
        violation=st["bad_kind"] > 0,
        detail=F.concat(
            F.lit("bad kinds: "),
            F.concat_ws(",", F.transform(bad, lambda s: F.coalesce(s["kind"], F.lit("NULL")))),
        ),
        bind=bind,
    )


def text_present_on_text_spans(spans_col: str = "spans") -> RowRule:
    """Every span with kind='text' must carry non-null text (FIXTURES.md plant
    NULL_TEXT)."""
    st, bind = _span_stats(spans_col)
    return RowRule(
        rule_id="text_present_on_text_spans",
        violation=st["text_missing"] > 0,
        detail=F.concat(F.lit("text-kind spans with NULL text: "),
                        st["text_missing"].cast("string")),
        bind=bind,
    )


def text_encoding_clean(spans_col: str = "spans",
                        rule_id: str = "text_encoding_clean") -> RowRule:
    """No mojibake: text spans must carry no C0 control characters (other
    than tab/newline/CR) and no U+FFFD replacement characters — the residue
    of a bad decode upstream. A first-class corpus-hygiene check the
    reference's advisory CSV loading never had (``data_loader.py:45-52``
    infers dtypes and moves on); at 10^12 documents a silent re-encode
    corrupts training text invisibly.

    Pure codegen: ``encoding_anomaly_count`` per span summed in-row via
    ``aggregate`` — no explode, no shuffle, rides the fused single scan."""
    # texts extracted with ``spans.text`` (GetArrayStructFields), NOT
    # ``transform(spans, s -> s.text)`` — expressions inside higher-order-
    # function lambdas block parquet nested-schema pruning, which would
    # make the scan read the media payloads too (same discipline as
    # span_sequence_valid_row; plan-pinned)
    n_bad = F.aggregate(
        F.col(f"{spans_col}.text"),
        F.lit(0).cast("long"),
        lambda acc, t: acc + encoding_anomaly_count(t).cast("long"),
    )
    return RowRule(
        rule_id=rule_id,
        violation=F.col("_enc_bad") > 0,
        detail=F.concat(F.lit("encoding anomaly chars: "),
                        F.col("_enc_bad").cast("string")),
        bind={"_enc_bad": n_bad},
    )


def media_ref_present_on_media_spans(spans_col: str = "spans") -> RowRule:
    st, bind = _span_stats(spans_col)
    return RowRule(
        rule_id="media_ref_present_on_media_spans",
        violation=st["media_missing"] > 0,
        detail=F.concat(F.lit("media spans missing media_ref: "),
                        st["media_missing"].cast("string")),
        bind=bind,
    )


def offsets_valid_native(spans_col: str = "spans") -> RowRule:
    """Offsets non-null, non-negative and pairwise distinct — the invariant
    ``span_sequence_valid_row`` enforces, with the offsets sorted in the
    detail. NULL and negative offsets come from the shared span-stats
    counters; duplicates compare the ``_span_offs`` bind with its distinct
    set. No Python."""
    st, bind = _span_stats(spans_col)
    offs = F.col("_span_offs")
    dup = F.size(F.array_distinct(offs)) < F.size(offs)
    return RowRule(
        rule_id="offsets_valid_native",
        violation=(st["null_off"] > 0) | (st["neg_off"] > 0) | dup,
        detail=F.concat(
            F.lit("offsets="),
            F.concat_ws(",", F.transform(F.array_sort(offs), lambda o: o.cast("string"))),
        ),
        bind={**bind, "_span_offs": F.col(f"{spans_col}.offset")},
    )


def _int_list(arr: Column) -> Column:
    """Python's ``str(list_of_ints)`` for an int array: ``[-3, -1]``."""
    return F.concat(F.lit("["),
                    F.array_join(F.transform(arr, lambda o: o.cast("string")), ", "),
                    F.lit("]"))


def span_sequence_valid_row(spans_col: str = "spans",
                            rule_id: str = "span_sequence_valid") -> RowRule:
    """Span-sequence validity (the input_hint invariant): sorting spans by
    offset yields a strict order — offsets non-NULL, non-negative and
    pairwise distinct. Empty span lists pass (``non_empty`` owns them).

    Pure Column expression over the ``spans.offset`` bind the default suite
    also makes, so it rides the fused single scan with no Python and the
    scan reads only the offsets (NULL is tested on ``spans.offset``, not on
    ``spans``, which would stop nested-schema pruning). Details are
    byte-identical to ``span_sequence_invalid_reason``, in its order:
    ``spans is NULL``, ``NULL offset``, ``negative offsets: [..]`` (sorted,
    repeats kept), ``duplicate offsets: [..]`` (sorted, distinct)."""
    offs_bound = "_span_offs"
    offs = F.col(offs_bound)
    has_null = F.exists(offs, lambda o: o.isNull())
    has_neg = F.exists(offs, lambda o: o < 0)
    srt = F.array_sort(offs)
    dups = F.array_distinct(
        F.filter(srt, lambda x, i: (i > 0) & (F.element_at(srt, i) == x)))
    return RowRule(
        rule_id=rule_id,
        violation=offs.isNull() | has_null | has_neg
        | (F.size(F.array_distinct(offs)) < F.size(offs)),
        detail=F.when(offs.isNull(), F.lit("spans is NULL"))
        .when(has_null, F.lit("NULL offset"))
        .when(has_neg, F.concat(F.lit("negative offsets: "),
                                _int_list(F.filter(srt, lambda o: o < 0))))
        .otherwise(F.concat(F.lit("duplicate offsets: "), _int_list(dups))),
        bind={offs_bound: F.col(f"{spans_col}.offset")},
    )


# ------------------------------------------------------------ dataset rules

def unique(col: str = "doc_id", rule_id: str = "unique:doc_id") -> DatasetRule:
    """doc_id uniqueness at 10^12 rows — pure shuffle aggregation, no collect.

    ``groupBy(doc_id)`` with ``count`` and the set of partitions:
    Catalyst plans a partial (map-side) aggregate before the single hash
    shuffle, so each distinct key ships at most one row per map task, and
    the partitions of duplicated keys come out of the same aggregate. The
    set holds each partition in a struct, so the NULL partition is kept.
    """

    def build(docs: DataFrame, ctx: RuleContext) -> DataFrame:
        p, d = ctx.partition_col, ctx.doc_id_col
        keyed = docs.select(F.col(p).alias("partition"), F.col(d).alias("doc_id")) \
                    .filter(F.col("doc_id").isNotNull())
        # ONE scan + ONE shuffle: partial (map-side) count + partition set
        # per key, then explode the partitions of duplicated keys. No
        # join-back re-scan of the table; collect_set is bounded by the
        # number of logical partitions a key can appear in.
        hits = (
            keyed.groupBy("doc_id")
            .agg(F.count("*").alias("_n"),
                 F.collect_set(F.struct("partition")).alias("_ps"))
            .filter(F.col("_n") > 1)
            .select(F.explode("_ps.partition").alias("partition"), "doc_id", "_n")
        )
        return hits.select(
            F.col("partition"),
            F.lit(rule_id).alias("rule_id"),
            F.col("doc_id"),
            F.concat(F.lit("duplicate doc_id x"), F.col("_n").cast("string")).alias("detail"),
        )

    return DatasetRule(rule_id=rule_id, build=build)


def media_caption_adjacent(spans_col: str = "spans",
                           rule_id: str = "media_caption_adjacent") -> RowRule:
    """Interleaved alignment rule: every media span must be immediately
    preceded (in OFFSET order) by a text span with non-null text — the
    caption-presence invariant a multimodal training pipeline enforces
    before pairing images with context. Evaluated entirely in-row (repack →
    ``array_sort`` → positional ``exists``), no shuffle, no Python; rides
    the fused single-scan row pass like every other row rule."""
    spans = F.col(spans_col)
    srt = F.array_sort(
        F.transform(
            spans,
            lambda s: F.struct(
                s["offset"].alias("o"), s["kind"].alias("k"),
                s["text"].alias("t"),
            ),
        )
    )
    # 1-based positions; sequence(1, 0) would yield a DESCENDING [1, 0] on
    # an empty spans array and element_at(srt, 1) then throws under ANSI —
    # guard to an empty index list so `exists` is vacuously false.
    idx = F.when(
        F.size(spans) >= 1, F.sequence(F.lit(1), F.size(spans))
    ).otherwise(F.array().cast("array<int>"))
    # CASE WHEN keeps element_at(srt, 0) unevaluated for i=1 — under ANSI
    # mode an out-of-range array index throws instead of returning NULL,
    # and bare boolean OR does not short-circuit
    bad_media = F.exists(
        idx,
        lambda i: (F.element_at(srt, i)["k"] != "text")
        & F.when(i == 1, F.lit(True)).otherwise(
            (F.element_at(srt, i - 1)["k"] != "text")
            | F.element_at(srt, i - 1)["t"].isNull()
        ),
    )
    return RowRule(
        rule_id=rule_id,
        violation=spans.isNotNull() & F.coalesce(bad_media, F.lit(False)),
        detail=F.lit("media span without adjacent preceding text caption"),
    )


def media_run_cap(max_run: int = 2, spans_col: str = "spans",
                  rule_id: str | None = None) -> RowRule:
    """Interleaved composition rule: no more than ``max_run`` CONSECUTIVE
    media (non-text) spans in offset order — the "image wall" guard a
    multimodal packing pipeline enforces so a training sequence never
    degenerates into patch tokens with no text anchors.

    In-row and JVM-only like the caption rule: repack → ``array_sort`` by
    offset → positional window test (``exists`` over start positions i
    where spans i..i+max_run are all non-text). O(n·max_run) per row with
    tiny n; rides the fused single-scan row pass, no shuffle. NULL kinds
    don't count toward a run (kind validity is ``span_kinds_accepted``'s
    job)."""
    rid = rule_id or f"media_run_cap:{max_run}"
    spans = F.col(spans_col)
    srt = F.array_sort(
        F.transform(
            spans,
            lambda s: F.struct(s["offset"].alias("o"), s["kind"].alias("k")),
        )
    )
    n = F.size(spans)
    # window starts: a violating run needs max_run+1 spans, so i ranges
    # over 1..n-max_run; guard below that (incl. empty arrays — see
    # media_caption_adjacent: sequence(1,0) is DESCENDING) to no windows.
    idx = F.when(
        n >= max_run + 1, F.sequence(F.lit(1), n - F.lit(max_run))
    ).otherwise(F.array().cast("array<int>"))

    def _all_media(i):
        cond = F.lit(True)
        for j in range(max_run + 1):
            cond = cond & (F.element_at(srt, i + j)["k"] != "text")
        return cond

    bad = F.exists(idx, _all_media)
    return RowRule(
        rule_id=rid,
        violation=spans.isNotNull() & F.coalesce(bad, F.lit(False)),
        detail=F.lit(f"more than {max_run} consecutive media spans"),
    )


def unique_values(col: str, rule_id: str | None = None) -> DatasetRule:
    """Uniqueness of an ARBITRARY column (the enforcement half of
    suggest_rules' ``unique`` suggestion), reporting every document that
    shares its value. Unlike ``unique`` — which checks the suite's doc-id
    column and can return the key itself as the violation id — this keeps
    each row's own doc_id, so the violation row points at the documents to
    fix.

    Plan: ONE scan, ONE shuffle — a count window partitioned BY THE KEY
    (the same exchange a groupBy on the key would pay) marks every row in
    a >1 group; no join-back re-scan, no per-key row collection. NULLs
    pass (completeness is its own rule)."""
    rid = rule_id or f"unique:{col}"

    def build(docs: DataFrame, ctx: RuleContext) -> DataFrame:
        from pyspark.sql import Window

        p, d = ctx.partition_col, ctx.doc_id_col
        keyed = docs.select(
            F.col(p).alias("partition"),
            F.col(d).alias("doc_id"),
            F.col(col).cast("string").alias("_k"),
        ).filter(F.col("_k").isNotNull())
        n = F.count(F.lit(1)).over(Window.partitionBy("_k"))
        return (
            keyed.withColumn("_n", n)
            .filter(F.col("_n") > 1)
            .select(
                "partition",
                F.lit(rid).alias("rule_id"),
                "doc_id",
                F.concat(
                    F.lit(f"{col}="), F.col("_k"),
                    F.lit(" duplicate x"), F.col("_n").cast("string"),
                ).alias("detail"),
            )
        )

    return DatasetRule(rule_id=rid, build=build)


def functional_dependency(determinant: str, dependent: str,
                          rule_id: str | None = None) -> DatasetRule:
    """Functional-dependency check ``determinant → dependent``: every
    distinct determinant value must map to exactly ONE dependent value
    (e.g. the same media_ref must always carry the same span kind, the
    same SKU the same unit). The violation row's doc_id is the offending
    determinant value — the key a remediation job would re-resolve —
    mirroring how ``unique`` reports the duplicated key itself.

    Plan for 10^12 rows: TWO map-side-combinable hash aggs and nothing
    else. Phase 1 dedupes (determinant, dependent) pairs — the shuffle
    carries at most one row per distinct pair per map task, so a column
    with heavy value repetition (the common case for an FD) collapses
    before the exchange. Phase 2 groups the pair frame (already tiny) by
    determinant; ``count(*)`` over it IS the exact distinct-dependent
    count — no count_distinct expand, no join-back re-scan of the table.
    NULL dependents count as one value (null-safe grouping); NULL
    determinants are skipped (``not_null`` owns those).

    Reference analogue: the org-consistency screens that require one
    department/supervisor per user (org_analyzer.py:26-34 builds exactly
    this one-valued map and would silently keep the last duplicate)."""
    rid = rule_id or f"fd:{determinant}->{dependent}"

    def build(docs: DataFrame, ctx: RuleContext) -> DataFrame:
        p = ctx.partition_col
        pairs = (
            docs.filter(F.col(determinant).isNotNull())
            .groupBy(determinant, dependent)
            .agg(F.collect_set(p).alias("_ps"))
        )
        viol = (
            pairs.groupBy(determinant)
            .agg(
                F.count(F.lit(1)).alias("_n_dep"),
                F.array_distinct(F.flatten(F.collect_list("_ps"))).alias("_ps"),
            )
            .filter(F.col("_n_dep") > 1)
        )
        return viol.select(
            F.explode("_ps").alias("partition"),
            F.lit(rid).alias("rule_id"),
            F.col(determinant).cast("string").alias("doc_id"),
            F.concat(
                F.lit(f"{dependent} takes "), F.col("_n_dep").cast("string"),
                F.lit(f" distinct values for one {determinant}"),
            ).alias("detail"),
        )

    return DatasetRule(rule_id=rid, build=build)


def freshness(ts_col: str, max_lag_seconds: int,
              rule_id: str | None = None) -> DatasetRule:
    """Staleness check: a partition whose newest ``ts_col`` lags the
    snapshot's global newest by more than ``max_lag_seconds`` fails —
    the "did partition X stop ingesting?" screen every snapshot
    validation runs before training-data cutoff.

    Plan: ONE map-side-combined ``max`` agg over the corpus; the global
    max then comes from an unpartitioned window over the RESULT frame
    (one row per partition — bounded), so the corpus is scanned once and
    never twice. Lag is reported in exact integer microseconds
    (``unix_micros``), no float time math.

    Reference analogue: the run-over-run retention window that prunes
    history older than MAX_RISK_HISTORY days (risk_history_tracker.py:
    152-161) — recast as a per-partition recency constraint."""
    rid = rule_id or f"freshness:{ts_col}"

    def build(docs: DataFrame, ctx: RuleContext) -> DataFrame:
        from pyspark.sql import Window

        p = ctx.partition_col
        # cast handles TIMESTAMP_NTZ sources (unix_micros wants TIMESTAMP);
        # the session-TZ shift the cast applies cancels in the difference
        per = docs.groupBy(F.col(p).alias("partition")).agg(
            F.max(F.col(ts_col).cast("timestamp")).alias("_mx"))
        # tiny frame (one row per partition): a global window here is NOT
        # the corpus-sized single-task trap — input is already aggregated
        gmx = F.max("_mx").over(Window.partitionBy())
        lag_us = F.unix_micros(gmx) - F.unix_micros(F.col("_mx"))
        return (
            per.withColumn("_lag_us", lag_us)
            .filter(F.col("_lag_us") > int(max_lag_seconds) * 1_000_000)
            .select(
                "partition",
                F.lit(rid).alias("rule_id"),
                F.lit(None).cast("string").alias("doc_id"),
                F.concat(F.lit("stale by "), F.col("_lag_us").cast("string"),
                         F.lit("us")).alias("detail"),
            )
        )

    return DatasetRule(rule_id=rid, build=build)


def ordinal_contiguity(group_col: str, ord_col: str, start: int = 1,
                       rule_id: str | None = None) -> DatasetRule:
    """Dense-sequence integrity: within each ``group_col`` group the
    ``ord_col`` ordinals must be exactly ``start, start+1, …, start+n-1``
    — no gaps, no duplicates, no stray start. The classic line-number /
    page-number / chunk-index invariant: a shard that lost rows in a
    partial write shows up here as a gap even when every surviving row is
    individually valid. The violation's doc_id is the offending group key.

    Plan for 10^12 rows: TWO map-side-combinable hash aggs, the same
    shape as ``functional_dependency``. Phase 1 dedupes (group, ordinal)
    pairs — repeated ordinals collapse before the exchange, and the raw
    multiplicity survives as an exact per-pair count. Phase 2 groups the
    pair frame by the key; ``count(*)`` IS the exact distinct-ordinal
    count, so gap/dup detection is pure integer comparison
    (min == start, max-start+1 == n_distinct, n_rows == n_distinct) with
    no count_distinct expand, no sort, no window. NULL ordinals are
    skipped (``not_null`` owns those).

    Reference analogue: the reference's sessionizers assume per-user event
    streams are complete and in order (behavior_analyzer.py builds
    sequences positionally); this is the check that assumption rests on."""
    rid = rule_id or f"ordinal_contiguity:{group_col}/{ord_col}"

    def build(docs: DataFrame, ctx: RuleContext) -> DataFrame:
        p = ctx.partition_col
        pairs = (
            docs.filter(F.col(ord_col).isNotNull())
            .groupBy(group_col, ord_col)
            .agg(F.count(F.lit(1)).alias("_dup"),
                 F.collect_set(p).alias("_ps"))
        )
        per_key = pairs.groupBy(group_col).agg(
            F.count(F.lit(1)).alias("_n_distinct"),
            F.sum("_dup").alias("_n_rows"),
            F.min(F.col(ord_col).cast("long")).alias("_mn"),
            F.max(F.col(ord_col).cast("long")).alias("_mx"),
            F.array_distinct(F.flatten(F.collect_list("_ps"))).alias("_ps"),
        )
        s = F.lit(int(start))
        bad = per_key.filter(
            (F.col("_mn") != s)
            | (F.col("_mx") - s + 1 != F.col("_n_distinct"))
            | (F.col("_n_rows") != F.col("_n_distinct"))
        )
        detail = F.concat(
            F.lit(f"{ord_col} not dense from {int(start)}: min="),
            F.col("_mn").cast("string"),
            F.lit(" max="), F.col("_mx").cast("string"),
            F.lit(" distinct="), F.col("_n_distinct").cast("string"),
            F.lit(" rows="), F.col("_n_rows").cast("string"),
        )
        return bad.select(
            F.explode("_ps").alias("partition"),
            F.lit(rid).alias("rule_id"),
            F.col(group_col).cast("string").alias("doc_id"),
            detail.alias("detail"),
        )

    return DatasetRule(rule_id=rid, build=build)


#: Benford first-digit expectation, exact integer ppm (sums to 1_000_000)
BENFORD_PPM = [301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153,
               45757]


def benford_deviation(col: str, max_l1_ppm: int = 300_000,
                      min_rows: int = 1000,
                      rule_id: str | None = None) -> DatasetRule:
    """Benford's-law screen as a partition-level rule: the L1 distance (in
    exact integer ppm) between the observed first-significant-digit
    distribution of ``col`` and Benford's expectation, flagging partitions
    where it exceeds ``max_l1_ppm`` — the classic detector for fabricated,
    truncated, or unit-mangled numeric feeds. Partitions with fewer than
    ``min_rows`` qualifying values are skipped (small-sample digit
    distributions are noise, not fraud).

    Only values ≥ 1 participate (FLOOR→string digit extraction, the same
    engine-portable recipe as the ``benford_totalprice`` profile — neither
    engine's implicit double→int cast is trusted). One map-side-combined
    hash agg with nine SUM(CASE) bins per partition; the L1 fold is a
    constant 9-term expression — no second pass, no window, no pivot.

    Reference analogue: statistical_analyzer.py's distribution-shape
    screens; Benford generalizes them to any positive numeric column."""
    rid = rule_id or f"benford:{col}"

    def build(docs: DataFrame, ctx: RuleContext) -> DataFrame:
        p = ctx.partition_col
        x = F.col(col)
        digit = F.substring(
            F.floor(x).cast("bigint").cast("string"), 1, 1).cast("int")
        base = docs.filter(x >= 1).select(
            F.col(p).alias("partition"), digit.alias("_d"))
        aggs = [F.count(F.lit(1)).alias("_n")] + [
            F.sum(F.when(F.col("_d") == d, F.lit(1)).otherwise(F.lit(0)))
            .alias(f"_c{d}")
            for d in range(1, 10)
        ]
        per = base.groupBy("partition").agg(*aggs)
        l1 = None
        for d, exp_ppm in enumerate(BENFORD_PPM, start=1):
            term = F.abs(
                F.expr(f"(_c{d} * 1000000L) div _n") - F.lit(exp_ppm))
            l1 = term if l1 is None else l1 + term
        bad = (
            per.withColumn("_l1", l1)
            .filter((F.col("_n") >= int(min_rows))
                    & (F.col("_l1") > int(max_l1_ppm)))
        )
        detail = F.concat(
            F.lit(f"{col} first-digit L1 vs Benford: "),
            F.col("_l1").cast("string"),
            F.lit(" ppm over "), F.col("_n").cast("string"),
            F.lit(" rows"),
        )
        return bad.select(
            "partition",
            F.lit(rid).alias("rule_id"),
            F.lit(None).cast("string").alias("doc_id"),
            detail.alias("detail"),
        )

    return DatasetRule(rule_id=rid, build=build)


def referential(catalog_col: str = "media_ref", rule_id: str = "referential:media_ref") -> DatasetRule:
    """Dangling media_ref check: explode spans, broadcast left-anti join to the
    media catalog (≈ reference LDAP broadcast-dimension lookup, SURVEY.md J2 —
    user_profile_builder.py:25,61-65 re-expressed as an anti-join)."""

    def build(docs: DataFrame, ctx: RuleContext) -> DataFrame:
        if ctx.media_catalog is None:
            raise ValueError("referential rule needs ctx.media_catalog")
        p, d = ctx.partition_col, ctx.doc_id_col
        # explode spans.media_ref (field access), not the full structs —
        # keeps nested-schema pruning so the scan never decodes span text
        refs = (
            docs.select(F.col(p).alias("partition"), F.col(d).alias("doc_id"),
                        F.explode(F.col(f"spans.{catalog_col}")).alias(catalog_col))
            .filter(F.col(catalog_col).isNotNull())
        )
        # duplicate catalog rows cannot change a left-anti join's output,
        # so the catalog is broadcast as it is, without a distinct's shuffle
        dangling = refs.join(
            F.broadcast(ctx.media_catalog.select(catalog_col)),
            catalog_col, "left_anti",
        )
        return (
            dangling.groupBy("partition", "doc_id")
            .agg(F.concat_ws(",", F.collect_set(catalog_col)).alias("_refs"))
            .select(
                "partition",
                F.lit(rule_id).alias("rule_id"),
                "doc_id",
                F.concat(F.lit("dangling media_ref: "), F.col("_refs")).alias("detail"),
            )
        )

    return DatasetRule(rule_id=rule_id, build=build)


def orphaned_assets(catalog_col: str = "media_ref",
                    rule_id: str = "orphaned_assets") -> DatasetRule:
    """Reverse referential: catalog assets NEVER referenced by any span —
    the storage-reclamation audit paired with ``referential`` (dangling
    refs point corpus→catalog; orphans point catalog→corpus). Violation
    rows carry the asset id so a GC job can act on them.

    Plan at 10^12 docs: the referenced-ref set is a distinct over the
    exploded ``spans.media_ref`` field (nested-pruned scan; the partial
    map-side distinct collapses each task's output to ≤ catalog
    cardinality before the exchange), then the catalog — dimension-sized —
    anti-joins against it. No broadcast needed in either direction and the
    corpus itself never shuffles; the exchange carries at most
    |catalog| × tasks rows.

    Reference analogue: the unused-LDAP-entries gap — the reference builds
    profiles only for users present in events (user_profile_builder.py:
    38-44) and never reports dimension rows nothing references."""

    def build(docs: DataFrame, ctx: RuleContext) -> DataFrame:
        if ctx.media_catalog is None:
            raise ValueError("orphaned_assets rule needs ctx.media_catalog")
        referenced = (
            docs.select(F.explode(F.col(f"spans.{catalog_col}")).alias(catalog_col))
            .filter(F.col(catalog_col).isNotNull())
            .distinct()
        )
        orphans = ctx.media_catalog.select(catalog_col).join(
            referenced, catalog_col, "left_anti")
        return orphans.select(
            F.lit("catalog").alias("partition"),
            F.lit(rule_id).alias("rule_id"),
            F.col(catalog_col).cast("string").alias("doc_id"),
            F.lit("catalog asset never referenced by any span").alias("detail"),
        )

    return DatasetRule(rule_id=rule_id, build=build)


def referential_scalable(catalog_col: str = "media_ref",
                         rule_id: str = "referential_scalable:media_ref",
                         m_bits: int = 65536, k: int = 3) -> DatasetRule:
    """``referential`` for catalogs too big to broadcast (10^9+ media rows):
    a Bloom bitset built FROM the catalog (functions/membership.py, md5
    positions — engine-portable) prescreens every ref with zero shuffles;
    Bloom misses are DEFINITELY dangling (no false negatives) and short-
    circuit straight to violations, so only "maybe present" refs — true
    members plus the small false-positive tail — pay the exact anti-join,
    which runs as a shuffle merge join (AQE-skew-handled), never a
    broadcast. Violation rows are identical to ``referential`` by
    construction; only the physical plan changes."""

    def build(docs: DataFrame, ctx: RuleContext) -> DataFrame:
        if ctx.media_catalog is None:
            raise ValueError("referential_scalable rule needs ctx.media_catalog")
        from anomaly_detection_spark.functions import membership

        p, d = ctx.partition_col, ctx.doc_id_col
        refs = (
            docs.select(F.col(p).alias("partition"), F.col(d).alias("doc_id"),
                        F.explode(F.col(f"spans.{catalog_col}")).alias(catalog_col))
            .filter(F.col(catalog_col).isNotNull())
        )
        cat = ctx.media_catalog.select(catalog_col).distinct()
        bits = membership.bloom_bitset(cat, catalog_col, m_bits, k)
        probed = membership.bloom_maybe_contains(refs, catalog_col, bits, m_bits, k)
        definite = probed.filter(~F.col("maybe_present")).drop("maybe_present")
        survivors = probed.filter(F.col("maybe_present")).drop("maybe_present")
        # hint pins the merge join: broadcast here would defeat the point
        fp_dangling = survivors.join(cat.hint("merge"), catalog_col, "left_anti")
        dangling = definite.unionByName(fp_dangling)
        return (
            dangling.groupBy("partition", "doc_id")
            .agg(F.concat_ws(",", F.collect_set(catalog_col)).alias("_refs"))
            .select(
                "partition",
                F.lit(rule_id).alias("rule_id"),
                "doc_id",
                F.concat(F.lit("dangling media_ref: "), F.col("_refs")).alias("detail"),
            )
        )

    return DatasetRule(rule_id=rule_id, build=build)


def psi_drift(base_docs: DataFrame, threshold: float = 0.25,
              rule_id: str = "drift_psi:span_kind") -> DatasetRule:
    """Span-kind distribution drift vs a baseline snapshot as a suite rule:
    ``psi_drift_from_hist`` against the baseline's span-kind histogram,
    computed from ``base_docs`` at build time (the fold over stored
    histograms is exact on a single one). Violations are partition-level
    (doc_id NULL)."""

    def build(docs: DataFrame, ctx: RuleContext) -> DataFrame:
        from anomaly_detection_spark import drift as _drift

        base = _drift.span_kind_histogram(base_docs, ctx.partition_col)
        return psi_drift_from_hist(base, threshold, rule_id).build(docs, ctx)

    return DatasetRule(rule_id=rule_id, build=build)


def psi_drift_from_hist(base_hist: DataFrame, threshold: float = 0.25,
                        rule_id: str = "drift_psi:span_kind") -> DatasetRule:
    """PSI drift against a STORED baseline histogram — (partition, bin,
    count) rows persisted by a previous run (``run_validation
    --emit-histograms``) — instead of rescanning the baseline snapshot.
    At 10^12 docs this is the difference between reading megabytes of
    metadata and re-reading 100 TB: only the CURRENT snapshot is scanned,
    and because histograms merge exactly (``drift.merge_histograms``) the
    stored baseline can itself be the running merge of every committed
    snapshot. ``psi_drift`` is this rule over a histogram of baseline
    data."""

    def build(docs: DataFrame, ctx: RuleContext) -> DataFrame:
        from anomaly_detection_spark import drift as _drift

        cur = _drift.span_kind_histogram(docs, ctx.partition_col)
        # the store may hold one subdir per committed snapshot (idempotent
        # incremental writes); fold them here — counts are additive, and a
        # single-histogram store reduces to the identity
        base = _drift.merge_histograms(base_hist)
        return _drift.psi(cur, base).filter(
            F.col("psi") > threshold
        ).select(
            "partition",
            F.lit(rule_id).alias("rule_id"),
            F.lit(None).cast("string").alias("doc_id"),
            F.concat(F.lit("PSI="), F.round("psi", 4).cast("string")).alias("detail"),
        )

    return DatasetRule(rule_id=rule_id, build=build)


def quantile_drift(base_docs: DataFrame, value: F.Column | None = None,
                   rel_threshold_pct: int = 10,
                   rule_id: str = "drift_quantile:spans_per_doc") -> DatasetRule:
    """Per-partition quantile-shift drift vs a baseline snapshot as a suite
    rule: p50/p95 of a numeric per-doc expression (default spans-per-doc)
    moved more than ``rel_threshold_pct`` percent — the monitoring-style
    complement of the PSI/KS shape statistics.  Both snapshots ride ONE
    union + ONE conditional-percentile aggregation (`drift.quantile_shift`);
    the flag is pure integer arithmetic on micro-unit quantiles.  Violations
    are partition-level (doc_id NULL)."""

    def build(docs: DataFrame, ctx: RuleContext) -> DataFrame:
        from anomaly_detection_spark import drift as _drift

        v = value if value is not None else F.size("spans")

        def tagged(frame: DataFrame, is_cur: bool) -> DataFrame:
            return frame.select(
                F.col(ctx.partition_col).alias("partition"),
                v.cast("double").alias("_v"),
                F.lit(is_cur).alias("_is_cur"),
            )

        u = tagged(docs, True).unionByName(tagged(base_docs, False))
        qs = _drift.quantile_shift(
            u, "partition", "_v", F.col("_is_cur"),
            rel_threshold_pct=rel_threshold_pct,
        )
        return qs.filter("drifted").select(
            "partition",
            F.lit(rule_id).alias("rule_id"),
            F.lit(None).cast("string").alias("doc_id"),
            F.concat(
                F.lit("p50_shift_micros="),
                F.col("p50_shift_micros").cast("string"),
                F.lit(" p95_shift_micros="),
                F.col("p95_shift_micros").cast("string"),
            ).alias("detail"),
        )

    return DatasetRule(rule_id=rule_id, build=build)


def ks_drift(base_docs: DataFrame, threshold: float = 0.2,
             rule_id: str = "drift_ks:spans_per_doc") -> DatasetRule:
    """Spans-per-document distribution drift vs a baseline snapshot (KS
    statistic over binned per-partition histograms) as a suite rule."""

    def build(docs: DataFrame, ctx: RuleContext) -> DataFrame:
        from anomaly_detection_spark import drift as _drift

        cur = _drift.numeric_histogram(docs, F.size("spans"), ctx.partition_col)
        base = _drift.numeric_histogram(base_docs, F.size("spans"), ctx.partition_col)
        return _drift.ks_statistic(cur, base).filter(F.col("ks") > threshold).select(
            "partition",
            F.lit(rule_id).alias("rule_id"),
            F.lit(None).cast("string").alias("doc_id"),
            F.concat(F.lit("KS="), F.round("ks", 4).cast("string")).alias("detail"),
        )

    return DatasetRule(rule_id=rule_id, build=build)


def schema_match(expected, rule_id: str = "schema_match") -> DatasetRule:
    """Schema-drift rule: the snapshot's columns/types must match the
    expected contract (missing, type-drifted, and unexpected columns each
    produce a violation). ``expected`` is a StructType or a list of
    ``(name, simple_type_string)`` pairs, e.g. ``[("doc_id", "string"),
    ("spans", "array<struct<kind:string,...>>")]``.

    Metadata-only — no data is scanned for the comparison itself; the
    problems (driver-local, a handful of rows) are fanned across the
    snapshot's distinct partitions with a broadcast cross join so every
    partition's verdict row fails, matching the (partition × rule) grid."""

    def build(docs: DataFrame, ctx: RuleContext) -> DataFrame:
        from pyspark.sql.types import StructType

        spark = docs.sparkSession
        if isinstance(expected, StructType):
            exp = {f.name: f.dataType.simpleString() for f in expected.fields}
        else:
            exp = dict(expected)
        actual = {f.name: f.dataType.simpleString() for f in docs.schema.fields}
        problems = []
        for name, dt in exp.items():
            if name not in actual:
                problems.append(f"missing column {name} ({dt})")
            elif actual[name] != dt:
                problems.append(f"type drift {name}: expected {dt}, got {actual[name]}")
        problems += [
            f"unexpected column {name} ({dt})"
            for name, dt in actual.items() if name not in exp
        ]
        if not problems:
            return spark.createDataFrame(
                [], "partition string, rule_id string, doc_id string, detail string"
            )
        pr = spark.createDataFrame(
            [(rule_id, None, d) for d in problems],
            "rule_id string, doc_id string, detail string",
        )
        parts = docs.select(F.col(ctx.partition_col).alias("partition")).distinct()
        return parts.crossJoin(F.broadcast(pr)).select(
            "partition", "rule_id", "doc_id", "detail"
        )

    return DatasetRule(rule_id=rule_id, build=build)


def row_count_drift(base_docs: DataFrame, max_rel_delta: float = 0.5,
                    rule_id: str = "row_count_drift") -> DatasetRule:
    """Per-partition volume check vs a baseline snapshot: a partition whose
    row count moved more than ``max_rel_delta`` relative to baseline — or
    that appeared/disappeared entirely — fails. Two count-aggs (map-side
    combined) + a full outer join on the tiny per-partition count tables, a
    NULL partition matching its own baseline; cost is independent of
    snapshot width."""

    def build(docs: DataFrame, ctx: RuleContext) -> DataFrame:
        p = ctx.partition_col
        cur = docs.groupBy(F.col(p).alias("partition")).agg(F.count("*").alias("n_cur"))
        base = base_docs.groupBy(F.col(p).alias("partition")).agg(
            F.count("*").alias("n_base")
        )
        j = join_on_keys(cur, base, ["partition"], "full_outer")
        nc = F.coalesce(F.col("n_cur"), F.lit(0))
        nb = F.coalesce(F.col("n_base"), F.lit(0))
        # violated when |cur-base| > max_rel_delta * base, or base empty
        bad = (F.abs(nc - nb) * F.lit(1.0) > F.lit(max_rel_delta) * nb) | (nb == 0)
        return j.filter(bad).select(
            "partition",
            F.lit(rule_id).alias("rule_id"),
            F.lit(None).cast("string").alias("doc_id"),
            F.concat(
                F.lit("rows "), nb.cast("string"), F.lit(" -> "), nc.cast("string")
            ).alias("detail"),
        )

    return DatasetRule(rule_id=rule_id, build=build)


def default_document_rules() -> list:
    """The engine's standard document rule suite (≈ the reference's fixed
    seven-pass detector fan-out, multidimensional_detector.py:134-155,
    recast as declarative constraints): the public span-rule builders over
    ``spans`` with ``DEFAULT_KINDS``. They bind one shared span-stats
    column, so the fused pass walks the spans array once for all four
    (see ``_span_stats_bind``)."""
    return [
        not_null("doc_id"),
        non_empty_array("spans"),
        text_present_on_text_spans(),
        media_ref_present_on_media_spans(),
        span_kinds_accepted(DEFAULT_KINDS),
        offsets_valid_native(),
    ]
