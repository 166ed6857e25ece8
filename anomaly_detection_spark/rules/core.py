"""Rule model: constraints compile to Spark Column expressions.

The reference hard-codes each detection rule as an ``if`` inside a per-row
Python loop (e.g. the five time-anomaly predicates at
``/root/reference/anomaly_detection/analyzers/time_analyzer.py:97-121``).
Here every *row rule* is a declarative ``Column`` predicate (true ⇒ violated)
plus a detail expression; the engine fuses all row rules into ONE ``select``
over the table — one scan, whole-stage codegen, no Python in the hot path
(SURVEY.md §4 "all rules fused into one per-partition pass").

*Dataset rules* (uniqueness, referential integrity, drift) need their own
aggregation/join topology, so they are callables returning a violations
DataFrame with the canonical schema
``(partition string, rule_id string, doc_id string, detail string)``.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

VIOLATION_COLUMNS = ["partition", "rule_id", "doc_id", "detail"]


def join_on_keys(df: DataFrame, other: DataFrame, keys: list[str],
                 how: str) -> DataFrame:
    """``df`` joined ``how`` (inner, left or full_outer) to ``other`` on the
    columns ``keys``, which both frames hold; their other columns must
    differ. NULL matches NULL: a NULL partition is a partition like any
    other. The result holds each key once, taken from whichever side has the
    row, then ``df``'s other columns, then ``other``'s."""
    alias = {k: f"_key{i}" for i, k in enumerate(keys)}
    rest = [c for c in other.columns if c not in alias]
    on = reduce(lambda a, b: a & b,
                [F.col(k).eqNullSafe(F.col(a)) for k, a in alias.items()])
    joined = df.join(
        other.select(*[F.col(k).alias(a) for k, a in alias.items()], *rest),
        on, how)
    return joined.select(
        *[F.coalesce(k, a).alias(k) for k, a in alias.items()],
        *[c for c in df.columns if c not in alias], *rest)


@dataclass(frozen=True)
class RowRule:
    """A per-row constraint. ``violation`` is TRUE when the row violates the
    rule; ``detail`` is a string Column describing why (shipped into the
    violation row).

    ``bind`` maps column names to expressions the engine pre-projects before
    evaluating the fused rule select; ``violation``/``detail`` may then refer
    to them with ``F.col(name)``. Use it when an expression is expensive or
    must be evaluated exactly once (e.g. a UDF — referencing a bound
    attribute keeps it a single evaluation instead of one in the predicate
    and another in the detail). Rules that bind the same name to the same
    expression share one column."""

    rule_id: str
    violation: Column
    detail: Column
    bind: dict[str, Column] = field(default_factory=dict)
    #: violation BUDGET: the per-partition verdict is PASS while
    #: violation_count / rows_scanned ≤ this many parts-per-million — the
    #: data-quality-SLO form (a crawl source is allowed 0.1% mojibake
    #: before the partition is rejected). 0 = strict (any violation
    #: fails), the default. Violation ROWS are still emitted either way —
    #: the budget gates the verdict, never the evidence.
    max_violation_ppm: int = 0


@dataclass(frozen=True)
class DatasetRule:
    """A whole-table constraint. ``build(docs, ctx)`` returns a violations
    DataFrame with VIOLATION_COLUMNS; the engine unions it with the fused
    row-rule violations."""

    rule_id: str
    build: Callable[[DataFrame, "RuleContext"], DataFrame]
    #: same verdict budget as RowRule.max_violation_ppm; note the count
    #: is of VIOLATION ROWS (for group-keyed rules like
    #: ordinal_contiguity that's violating groups) per scanned row
    max_violation_ppm: int = 0


Rule = RowRule  # the common case


@dataclass
class RuleContext:
    """Everything a dataset rule may need beyond the documents table."""

    partition_col: str = "partition"
    doc_id_col: str = "doc_id"
    media_catalog: DataFrame | None = None


@dataclass
class RuleSet:
    row_rules: list[RowRule] = field(default_factory=list)
    dataset_rules: list[DatasetRule] = field(default_factory=list)

    def add(self, rule: RowRule | DatasetRule) -> "RuleSet":
        if isinstance(rule, RowRule):
            self.row_rules.append(rule)
        else:
            self.dataset_rules.append(rule)
        return self

    @property
    def rule_ids(self) -> list[str]:
        return [r.rule_id for r in self.row_rules] + [r.rule_id for r in self.dataset_rules]

    @property
    def rule_budgets(self) -> list[tuple[str, int]]:
        """(rule_id, max_violation_ppm) in rule_ids order — the verdict
        budget dimension the engine joins into the pass/fail grid."""
        return [
            (r.rule_id, int(r.max_violation_ppm))
            for r in self.row_rules + self.dataset_rules
        ]
