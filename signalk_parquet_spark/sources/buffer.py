"""Hot staging buffer — the Spark-native replacement for the reference's
SQLite WAL buffer (sqlite-buffer.ts; SURVEY §1.3, S5).

Design: a small append-only Parquet staging directory holding today's hot
rows. Federation = hot ∪ cold with the hot side winning per bucket
(operators/federation.priority_dedup), exactly the reference's plan shape.

Exactly-once export (the `exported` flag + markDateExported protocol,
sqlite-buffer.ts:1001-1027) becomes IDEMPOTENT OVERWRITE of the day
partition in the cold lake: re-exporting a day rewrites the same partition
instead of appending dupes — same guarantee, no per-row state.
"""

from __future__ import annotations

import os
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .lake import Lake, SchemaCatalog, walk_local_files


class HotBuffer:
    def __init__(self, spark: SparkSession, staging_dir: str):
        self.spark = spark
        self.staging_dir = staging_dir
        self._catalog = SchemaCatalog(spark)

    def append(self, df: DataFrame) -> None:
        df.write.mode("append").parquet(self.staging_dir)

    def read(
        self,
        context: str | None = None,
        path: str | None = None,
        from_ts: datetime | None = None,
        to_ts: datetime | None = None,
    ) -> DataFrame:
        # the staging files, validated against the catalog the way Lake.read
        # does: appends and compactions re-merge the schema once
        listing = tuple(walk_local_files(self.staging_dir, ""))
        if not listing:
            return self.spark.createDataFrame([], "context string, path string")
        df = self._catalog.read(self.staging_dir, listing, base=self.staging_dir)
        if context:
            df = df.filter(F.col("context") == context)
        if path:
            df = df.filter(F.col("path") == path)
        if from_ts:
            df = df.filter(F.col("signalk_timestamp") >= F.lit(from_ts))
        if to_ts:
            df = df.filter(F.col("signalk_timestamp") < F.lit(to_ts))
        return df

    def export_day(self, lake: Lake, day: datetime) -> int:
        """Export one day's hot rows to the cold lake. Idempotent: overwrite
        of the day's partitions — running twice leaves one copy (the
        reference proves the same property via its exported flag,
        write-read-pipeline.test.ts:211-222)."""
        start = day.replace(hour=0, minute=0, second=0, microsecond=0)
        end = start.replace(hour=23, minute=59, second=59, microsecond=999999)
        rows = self.read(from_ts=start, to_ts=end)
        n = rows.count()
        if n:
            lake.write_records(rows, tier="raw", mode="overwrite")
        return n

    def retention_cleanup(self, older_than: datetime) -> None:
        """Drop hot rows past the buffer retention window (48 h default in
        the reference, README.md:20) by compacting the staging dir."""
        keep = self.read(from_ts=older_than)
        tmp = self.staging_dir + ".compact"
        keep.write.mode("overwrite").parquet(tmp)
        import shutil

        shutil.rmtree(self.staging_dir)
        os.rename(tmp, self.staging_dir)
