"""Resumable batch execution with per-partition lineage + metrics
(north_rule: "resumable from checkpoint with per-partition lineage +
metrics"; SURVEY.md §2.10/§7 Phase 4).

Model: a job is a list of *logical partitions* (e.g. media_ref buckets,
H3 cell ranges, date buckets).  Each partition is processed independently,
its output lands under ``<sink>/pid=<id>/`` (overwrite-idempotent), and a
commit row is appended to the ``_progress`` table only after the write
succeeds.  On restart, committed partitions are skipped — zero recompute —
and the final dataset is the union of the partition directories.

The ``_metrics`` table records per-partition rows/bytes/wall-ms lineage.
Tables are parquet here, Iceberg on a configured cluster (session.py
``TABLE_FORMAT``) — the commit protocol is identical (append-only commit
rows; last writer wins per pid)."""

from __future__ import annotations

import json
import os
import time
from typing import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession, functions as F


class ResumableJob:
    def __init__(self, spark: SparkSession, job_id: str, base_dir: str):
        self.spark = spark
        self.job_id = job_id
        self.base_dir = base_dir
        self.progress_dir = os.path.join(base_dir, "_progress", job_id)
        self.metrics_dir = os.path.join(base_dir, "_metrics", job_id)
        self.sink_dir = os.path.join(base_dir, "out", job_id)

    # -- lineage ----------------------------------------------------------
    def committed(self) -> set[str]:
        try:
            pdf = self.spark.read.parquet(self.progress_dir) \
                .filter(F.col("status") == "committed") \
                .select("partition_id").distinct().toPandas()
            return set(pdf.partition_id)
        except Exception:
            return set()

    def _append(self, directory: str, rows: list[dict]) -> None:
        df = self.spark.createDataFrame(rows)
        df.coalesce(1).write.mode("append").parquet(directory)

    # -- execution --------------------------------------------------------
    def run(self, partitions: Iterable[str],
            process: Callable[[str], DataFrame],
            fail_after: int | None = None) -> int:
        """Process every uncommitted partition; returns how many were
        actually (re)computed.  ``fail_after`` aborts after N commits —
        test hook simulating a mid-job crash."""
        done = self.committed()
        computed = 0
        for pid in partitions:
            if pid in done:
                continue
            t0 = time.time()
            out = process(pid)
            path = os.path.join(self.sink_dir, f"pid={pid}")
            out.write.mode("overwrite").parquet(path)   # idempotent per-pid
            n_rows = self.spark.read.parquet(path).count()
            n_bytes = sum(
                os.path.getsize(os.path.join(path, f))
                for f in os.listdir(path) if f.endswith(".parquet"))
            wall_ms = int((time.time() - t0) * 1000)
            self._append(self.progress_dir, [dict(
                job_id=self.job_id, partition_id=pid, status="committed",
                committed_epoch_ms=int(time.time() * 1000))])
            self._append(self.metrics_dir, [dict(
                job_id=self.job_id, partition_id=pid, rows=n_rows,
                bytes=n_bytes, wall_ms=wall_ms)])
            computed += 1
            if fail_after is not None and computed >= fail_after:
                raise RuntimeError(f"simulated failure after {computed} partitions")
        return computed

    def result(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.sink_dir, "pid=*"))

    def metrics(self) -> DataFrame:
        return self.spark.read.parquet(self.metrics_dir)


def bucket_filter(df: DataFrame, key: str, n_buckets: int,
                  pid: str) -> DataFrame:
    return df.filter(F.pmod(F.xxhash64(F.col(key)), n_buckets) == int(pid))
