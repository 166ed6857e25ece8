"""Parquet-backed snapshot log — an Iceberg-semantics table format the
sandbox can actually execute.

The flagship contract (``BASELINE.json:north_rule``) frames the engine as
snapshot-batch over Iceberg: validate a pinned snapshot (time travel),
re-validate only the rows APPENDED between two snapshots (incremental
read), resume from a commit-log manifest. The real Iceberg runtime is a
JVM jar this sandbox cannot vendor (no network), so this module implements
the same *commit and read semantics* over plain parquet + a tiny JSON
metadata log — exactly Iceberg's own layering (data files + a metadata
commit log), minus the catalog and manifest-file machinery:

* ``append(df)`` writes a new immutable parquet fileset FIRST, then
  publishes it with one atomic ``os.replace`` of a JSON log entry —
  data-first / metadata-last, so a crash mid-append leaves an invisible
  orphan directory, never a torn snapshot (the same guarantee an Iceberg
  commit gives via its metadata-pointer swap; reference analogue: the
  snapshot-history model, ``risk_history_tracker.py:35-101``).
* ``read(snapshot_id)`` is time travel: the union of every fileset
  committed at-or-before that snapshot (Iceberg ``snapshot-id`` option).
* ``read_incremental(start, end)`` is the appends-only incremental scan:
  filesets committed strictly AFTER ``start`` up to ``end`` inclusive
  (Iceberg ``start-snapshot-id``/``end-snapshot-id``, exclusive/inclusive).

Scale shape: the log is metadata — one JSON file per snapshot, listed and
parsed driver-side, exactly like Iceberg's own metadata layer. Data reads
stay fully distributed parquet scans of the selected filesets; nothing
row-sized ever passes through the driver. On a real cluster with the
Iceberg runtime on the classpath, ``read_table`` below delegates to the
genuine reader with the identical option contract — callers never branch.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

_LOG_DIR = "log"
_DATA_DIR = "data"


class SnapshotLog:
    """Append-only snapshotted table rooted at ``root`` (a local or
    DFS-mounted path). Single-writer: concurrent appends would race on the
    sequence number — the sandbox runs one driver, and the real-cluster
    path is the genuine Iceberg catalog, whose optimistic commit protocol
    handles writer races."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root

    # -- metadata ------------------------------------------------------
    def snapshots(self) -> list[dict]:
        """Committed snapshots in commit order (oldest first)."""
        log_dir = os.path.join(self.root, _LOG_DIR)
        if not os.path.isdir(log_dir):
            return []
        entries = []
        for fn in sorted(os.listdir(log_dir)):
            if fn.endswith(".json"):
                with open(os.path.join(log_dir, fn)) as fh:
                    entries.append(json.load(fh))
        entries.sort(key=lambda e: e["sequence"])
        return entries

    def current_snapshot_id(self) -> str | None:
        snaps = self.snapshots()
        return snaps[-1]["snapshot_id"] if snaps else None

    def _sequence(self, snaps: list[dict], snapshot_id: str) -> int:
        """Sequence number of ``snapshot_id`` in the listing ``snaps``."""
        for e in snaps:
            if e["snapshot_id"] == snapshot_id:
                return e["sequence"]
        raise ValueError(
            f"unknown snapshot {snapshot_id!r} in log at {self.root}"
        )

    # -- commit --------------------------------------------------------
    def append(self, df: DataFrame, snapshot_id: str | None = None) -> str:
        """Commit ``df`` as a new snapshot; returns its id.

        Write protocol (the resumability invariant): the parquet fileset is
        fully written before the log entry exists, and the entry appears via
        one atomic rename — readers either see the whole snapshot or none
        of it. An orphaned data directory (crash before publish) is never
        listed by any read."""
        snaps = self.snapshots()
        seq = snaps[-1]["sequence"] + 1 if snaps else 1
        sid = snapshot_id if snapshot_id is not None else f"s{seq}"
        if any(e["snapshot_id"] == sid for e in snaps):
            raise ValueError(f"snapshot id {sid!r} already committed")
        data_dir = os.path.join(
            self.root, _DATA_DIR, f"{seq:08d}-{uuid.uuid4().hex[:12]}"
        )
        df.write.mode("overwrite").parquet(data_dir)

        log_dir = os.path.join(self.root, _LOG_DIR)
        os.makedirs(log_dir, exist_ok=True)
        entry = {
            "snapshot_id": sid,
            "sequence": seq,
            "parent_id": snaps[-1]["snapshot_id"] if snaps else None,
            "data_dir": data_dir,
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%S"),
        }
        tmp = os.path.join(log_dir, f".{seq:08d}.json.tmp-{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as fh:
            json.dump(entry, fh)
        os.replace(tmp, os.path.join(log_dir, f"{seq:08d}.json"))
        return sid

    # -- reads ---------------------------------------------------------
    def _read_dirs(self, dirs: list[str]) -> DataFrame:
        if not dirs:
            raise ValueError(f"no committed snapshots at {self.root}")
        return self.spark.read.parquet(*dirs)

    def read(self, snapshot_id: str | None = None) -> DataFrame:
        """Table state AS OF ``snapshot_id`` (time travel); latest if None."""
        snaps = self.snapshots()
        if snapshot_id is not None:
            upto = self._sequence(snaps, snapshot_id)
            snaps = [e for e in snaps if e["sequence"] <= upto]
        return self._read_dirs([e["data_dir"] for e in snaps])

    def read_incremental(
        self, start_snapshot_id: str, end_snapshot_id: str | None = None
    ) -> DataFrame:
        """Rows appended AFTER ``start_snapshot_id`` (exclusive) up to
        ``end_snapshot_id`` (inclusive; latest if None) — Iceberg's
        appends-only incremental scan, the per-snapshot revalidation shape.
        Both ends resolve from one listing of the log."""
        snaps = self.snapshots()
        lo = self._sequence(snaps, start_snapshot_id)
        hi = (
            self._sequence(snaps, end_snapshot_id)
            if end_snapshot_id is not None
            else float("inf")
        )
        dirs = [e["data_dir"] for e in snaps if lo < e["sequence"] <= hi]
        return self._read_dirs(dirs)


def read_table(
    spark: SparkSession,
    source: str,
    fmt: str = "parquet",
    snapshot_id: str | None = None,
    incremental_from: str | None = None,
) -> DataFrame:
    """The engine's one reader front door — identical snapshot semantics
    across formats, so ``run_validation.py`` never branches on capability:

    * ``iceberg``  — the genuine runtime reader; options per the public
      Iceberg Spark source contract (``snapshot-id`` pins a snapshot;
      ``start-snapshot-id`` [exclusive] + optional ``end-snapshot-id``
      [inclusive] select an incremental range), applied to
      ``spark.read.table(<catalog.db.table>)``. Activation needs the
      Iceberg runtime on the classpath and a catalog, e.g.::

          spark-submit \\
            --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver> \\
            --conf spark.sql.catalog.my_cat=org.apache.iceberg.spark.SparkCatalog \\
            --conf spark.sql.catalog.my_cat.type=hadoop \\
            --conf spark.sql.catalog.my_cat.warehouse=<path> \\
            run_validation.py --format iceberg --input my_cat.db.docs ...

      No jar ships in this sandbox, so the seam's option contract is pinned
      by ``tests/test_snapshots.py::test_iceberg_seam_option_contract``
      against a recording reader — the test fails if these option names or
      the table-call shape ever drift.
    * ``snaplog``  — this module's parquet-backed log, same semantics,
      executable in the sandbox (this path carries the e2e test evidence).
    * ``parquet``  — a plain immutable path; snapshot options are rejected
      rather than ignored (silently validating the wrong row set would be
      a correctness lie).
    """
    if fmt == "iceberg":
        reader = spark.read
        if incremental_from:
            reader = reader.option("start-snapshot-id", incremental_from)
            if snapshot_id:
                reader = reader.option("end-snapshot-id", snapshot_id)
        elif snapshot_id:
            reader = reader.option("snapshot-id", snapshot_id)
        return reader.table(source)
    if fmt == "snaplog":
        log = SnapshotLog(spark, source)
        if incremental_from:
            return log.read_incremental(incremental_from, snapshot_id)
        return log.read(snapshot_id)
    if snapshot_id or incremental_from:
        raise ValueError(
            "snapshot pinning / incremental reads need --format iceberg or "
            "snaplog; a plain parquet path has no snapshot log"
        )
    return spark.read.parquet(source)


def snapshot_diff(
    prev: DataFrame,
    cur: DataFrame,
    key_col: str = "doc_id",
    fp_col: str = "fp",
    carry: list[str] | None = None,
) -> DataFrame:
    """Row-level diff between two snapshots of a keyed table: each key is
    classified ``added`` (cur only), ``removed`` (prev only), ``changed``
    (both sides, different content fingerprint) or ``unchanged``. The
    commit-to-commit audit primitive behind "what did this ingest actually
    do" — the doc-level twin of ``history.verdict_diff`` (which diffs
    rule verdicts, not rows).

    Inputs carry a precomputed ``fp_col`` content fingerprint (md5/xxhash of
    the payload), so the diff never compares wide payloads — the join rows
    are (key, fingerprint) plus the requested ``carry`` columns only.

    Scale shape: ONE full-outer sort-merge join on the key. On an Iceberg
    layout where both snapshots are written bucketed/sorted by ``key_col``
    (e.g. written with ``repartitionByRange(doc_id)``), storage
    partitioning makes this a co-located merge with no extra shuffle; the
    classification and any rollup aggregate map-side. ``carry`` columns are
    taken from whichever side has the row (cur wins when both do).
    """
    from pyspark.sql import functions as F

    carry = carry or []
    p = prev.select(
        F.col(key_col).alias("_k"), F.col(fp_col).alias("_pf"),
        *[F.col(c).alias(f"_p_{c}") for c in carry],
    )
    c = cur.select(
        F.col(key_col).alias("_k"), F.col(fp_col).alias("_cf"),
        *[F.col(c_).alias(f"_c_{c_}") for c_ in carry],
    )
    j = p.join(c, "_k", "full_outer")
    cls = (
        F.when(F.col("_pf").isNull(), F.lit("added"))
        .when(F.col("_cf").isNull(), F.lit("removed"))
        .when(F.col("_pf") != F.col("_cf"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(
        F.col("_k").alias(key_col),
        cls.alias("diff_class"),
        *[F.coalesce(F.col(f"_c_{c_}"), F.col(f"_p_{c_}")).alias(c_)
          for c_ in carry],
    )
