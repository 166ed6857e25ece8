"""Rule-progress manifest: an append-only commit log of finished snapshots,
one metrics row per (partition, rule_id) of each, with per-partition lineage
+ metrics.

≈ the reference's JSON risk-history checkpoint
(``/root/reference/anomaly_detection/.../risk_history_tracker.py:35-101``)
re-expressed as a table commit log: each ``commit`` appends one parquet
fileset (Iceberg/Delta would make this a real atomic snapshot commit; the
parquet fallback appends a uniquely-named subdirectory, which is atomic
enough for single-writer runs and keeps the sandbox dependency-free).

Resume semantics: the snapshot is the unit of commit. Any committed row of
a snapshot means the whole snapshot is committed (``committed``), and a
resumed run of it evaluates nothing; a snapshot without one is run again
in full.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_SCHEMA = (
    "partition string, rule_id string, snapshot_id string, status string, "
    "rows_scanned long, violation_count long, duration_ms long, "
    "committed_at timestamp"
)


class RuleProgressManifest:
    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path

    def read(self) -> DataFrame:
        """Every committed row; empty only when no commit file exists yet.
        Any other error (a filesystem that cannot be listed, a read that
        fails) propagates: an empty manifest would silently turn a resume
        into a full re-evaluation.

        The commit files are listed before the read, so a manifest without
        one builds no read whose analysis fails: once a session has used an
        ``Observation`` (the verdict diff), Spark's listener re-analyses such
        a query and logs an error for it. The empty frame has no partitions,
        so a plan that reads it (the report's trends before the first
        commit) runs no task for it: a frame of local Python rows would start
        Python workers that then stay alive."""
        pattern = os.path.join(self.path, "*", "*.parquet")
        sc = self.spark.sparkContext
        glob = sc._jvm.org.apache.hadoop.fs.Path(pattern)
        if not glob.getFileSystem(sc._jsc.hadoopConfiguration()).globStatus(glob):
            return self.spark.createDataFrame(sc.emptyRDD(), MANIFEST_SCHEMA)
        return self.spark.read.schema(MANIFEST_SCHEMA).parquet(pattern)

    def commit(self, metrics: DataFrame) -> None:
        """Append one commit's metrics. Each commit lands in its own
        subdirectory so a failed write never half-overwrites history."""
        commit_dir = os.path.join(self.path, f"commit-{uuid.uuid4().hex[:12]}")
        metrics.write.mode("overwrite").parquet(commit_dir)

    def committed(self, snapshot_id: str) -> bool:
        """Whether any commit holds ``snapshot_id``: one Spark job."""
        return self.read().filter(
            F.col("snapshot_id") == snapshot_id).limit(1).count() > 0
