"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship validation pass; ``queries()`` /
``oracle_sql()`` expose the operator-coverage registry from
``anomaly_detection_spark.queries`` (each Spark query paired with a DuckDB
oracle; see that module's cross-engine determinism rules).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from anomaly_detection_spark.queries import QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full constraint-validation pass over an interleaved-
    documents table synthesized from /root/testdata/sf0.001/documents.parquet.

    Documents become (doc_id, spans, partition=source) with a text span and a
    media span each; the engine then runs the default rule suite + uniqueness
    + referential + span-sequence checks and returns the per-partition
    pass/fail verdict matrix.
    """
    from pyspark.sql import functions as F

    from anomaly_detection_spark.engine import ValidationRun
    from anomaly_detection_spark.rules import builtin
    from anomaly_detection_spark.rules.core import RuleSet

    raw = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs = raw.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.substring("text", 1, 200).alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            ),
            F.struct(
                F.lit("image").alias("kind"),
                F.lit(None).cast("string").alias("text"),
                F.concat(F.lit("m"), F.pmod(F.col("doc_id"), F.lit(64)).cast("string")).alias("media_ref"),
                F.lit(1).alias("offset"),
            ),
        ).alias("spans"),
        F.col("source").alias("partition"),
    )
    catalog = spark.range(64).select(
        F.concat(F.lit("m"), F.col("id").cast("string")).alias("media_ref")
    )
    rules = RuleSet(
        # span_sequence_valid rides the fused single-scan row pass as a
        # native expression: no Python worker on the validation path
        row_rules=builtin.default_document_rules()
        + [builtin.no_pii(), builtin.span_sequence_valid_row()],
        dataset_rules=[
            builtin.unique("doc_id"),
            builtin.referential(),
        ],
    )
    run = ValidationRun(spark, docs, rules, media_catalog=catalog)
    return run.run(resume=False).verdicts


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ the
    training-data-pipeline ops: dedup, ANN, text analysis, multimodal)."""
    return {name: fn for name, (fn, _) in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every SQL-expressible query; omitted keys
    (Python-side Arrow passes) get the driver's rows-only check."""
    return {name: sql for name, (_, sql) in QUERIES.items() if sql is not None}
