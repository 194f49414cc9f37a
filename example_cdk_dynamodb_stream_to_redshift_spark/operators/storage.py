"""Parquet-backed table store with atomic version swap.

The reference's targets are Redshift tables with transactional
delete+insert. Without Delta in this image (SURVEY.md §7 step 5), we emulate
a transactional rewrite on plain parquet: each commit writes a fresh
versioned directory and flips a pointer file — readers always see a complete
version, a crashed write is invisible. A Delta/Iceberg backend would replace
this class 1:1 (MERGE INTO in foreachBatch) without touching merge logic.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .merge import MergeSpec, merge_into


class ParquetTable:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        schema: T.StructType,
        keep_versions: int = 2,
    ):
        """``keep_versions``: how many committed versions stay on disk
        (>= 2). Deleting only the (n - keep)th version on each commit gives
        lazy DataFrames handed out by ``read()`` a one-commit grace window —
        a snapshot captured just before a refresh still executes afterwards
        instead of dying with FileNotFound. Readers older than the window
        are invalidated by the next commit (documented contract; a real
        lakehouse backend would version via Delta/Iceberg snapshots)."""
        self.spark = spark
        self.root = root
        self.schema = schema
        self.keep_versions = max(2, keep_versions)
        os.makedirs(root, exist_ok=True)

    @property
    def _pointer(self) -> str:
        return os.path.join(self.root, "_CURRENT")

    def _current_version(self) -> int | None:
        try:
            with open(self._pointer) as fh:
                return json.load(fh)["version"]
        except (FileNotFoundError, json.JSONDecodeError, KeyError):
            return None

    def read(self) -> DataFrame:
        v = self._current_version()
        if v is None:
            return self.spark.createDataFrame([], self.schema)
        return self.spark.read.schema(self.schema).parquet(
            os.path.join(self.root, f"v{v}")
        )

    def meta(self) -> dict:
        """Commit metadata of the current version (empty dict before the
        first commit or for commits that attached none). Because the
        pointer file carries both the version and its metadata, a reader
        can never observe data from one commit with metadata from
        another — this is what makes exactly-once ledgers (e.g.
        IncrementalAggTable's last-applied batch id) atomic with the
        state they describe."""
        try:
            with open(self._pointer) as fh:
                return json.load(fh).get("meta", {})
        except (FileNotFoundError, json.JSONDecodeError):
            return {}

    def overwrite(self, df: DataFrame, meta: dict | None = None) -> None:
        """Commit new contents: write v{n+1}, flip pointer (carrying
        ``meta`` atomically with it), GC versions older than the keep
        window (see __init__)."""
        old = self._current_version()
        new = (old or 0) + 1
        out = os.path.join(self.root, f"v{new}")
        df.write.mode("overwrite").parquet(out)
        tmp = self._pointer + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"version": new, "meta": meta or {}}, fh)
        os.replace(tmp, self._pointer)  # atomic flip
        expired = new - self.keep_versions
        if expired >= 1:
            shutil.rmtree(os.path.join(self.root, f"v{expired}"), ignore_errors=True)

    def append(self, df: DataFrame) -> None:
        current = self.read()
        self.overwrite(current.unionByName(df))

    def merge(
        self,
        extract: DataFrame,
        spec: MergeSpec,
        sync_ts: dt.datetime | None = None,
        stats: dict | None = None,
        watermark: dt.datetime | None = None,
    ) -> None:
        """Full-rewrite CDC merge: ``operators.merge.merge_into`` over the
        whole table, committed as one new version (none when nothing is
        staged). Arguments as ``PartitionedParquetTable.merge``."""
        merge_into(
            self,
            extract,
            spec,
            sync_ts,
            stats=stats,
            watermark=watermark,
        )

    def merge_slice(self, buckets: None) -> DataFrame:
        return self.read()

    def commit_merge(self, merged: DataFrame, buckets: None) -> None:
        self.overwrite(merged)

    def compact(self, n_files: int) -> None:
        """Rewrite the current version into exactly ``n_files`` files —
        the small-files maintenance pass a micro-batch sink needs (every
        streaming refresh writes task-count files; thousands of refreshes
        make scans open thousands of tiny footers — at 100 TB, listing
        alone dominates). Rides the versioned-commit machinery, so the
        rewrite is atomic to readers and a crash mid-compact is invisible.
        coalesce (no shuffle) merges whole files per task."""
        if self._current_version() is None:
            return
        self.overwrite(self.read().coalesce(max(1, n_files)))
