"""The Parquet lake: partitioned write + pruned read over a schema catalog.

Replaces the reference's glob-construction machinery (S1-S4 in SURVEY §2.1)
with native Spark partition handling:
  - write: df.write.partitionBy("tier","context","path","year","day")
    — atomic via the job commit protocol (replaces temp-file+rename,
    parquet-writer.ts:131-306)
  - read: spark.read.schema(<catalog entry>).parquet(<subtree>) + ordinary
    filters on the partition columns; Catalyst prunes partitions (replaces
    hive-path-builder.ts:232-393's explicit day globs)
  - multi-root federation (local ∪ S3): one subtree read per root, unioned
    by name (replaces HistoryAPI.ts:1461-1467's UNION ALL)

The schema catalog replaces the reference's 30-min schema cache
(schema-cache.ts:46-173) with exact validation instead of a TTL. Each read
lists its subtree's data files on the driver (os calls for local roots, the
Hadoop FileSystem API for object stores). A catalog entry holds the merged
schema together with the listing (path, size, mtime) it was merged from; a
read whose listing matches reuses the schema, and a read whose listing
differs — a file added, removed or rewritten by this Lake, another instance
or a streaming sink — re-merges once, with Spark's footer-merge job.

Other metadata questions run no Spark job on a local root: tiers come from
the tier= directory listing, discovery from the partition directories that
hold data, and a path's value_* components from Parquet footer statistics.

At 100 TB: year/day partition pruning bounds every query to its time range;
context/path partitioning keeps per-series scans file-local. Partition count
stays sane because tier/context/path are low-cardinality (thousands) and
year/day add ~366/year.
"""

from __future__ import annotations

import glob
import logging
import os
import re
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field
from datetime import datetime
from typing import TypeVar
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .hive_paths import (
    EXCLUDED_SUBDIRS,
    days_in_range,
    sanitize_context,
    sanitize_path,
    unsanitize_context,
    unsanitize_path,
)

PARTITION_COLS = ("tier", "context", "path", "year", "day")

_DAY_RE = re.compile(r"year=[^/]+/day=[^/]+")

T = TypeVar("T")

#: (path relative to its root, size, mtime) of every data file a read lists
Listing = tuple[tuple[str, int, int], ...]

_LOG = logging.getLogger(__name__)


class Lake:
    """One Hive-partitioned Parquet store (optionally several roots, e.g.
    local + s3a:// for the cloud supplement)."""

    def __init__(self, spark: SparkSession, *roots: str):
        if not roots:
            raise ValueError("at least one lake root required")
        self.spark = spark
        self.roots = roots
        self._catalog = SchemaCatalog(spark)

    # --- write -----------------------------------------------------------
    def write_records(self, df: DataFrame, tier: str = "raw", mode: str = "append") -> None:
        """Append DataRecords, deriving partition columns from the data.
        Idempotent day re-export = mode='overwrite' with dynamic partition
        overwrite (replaces the buffer's `exported` flag semantics)."""
        out = (
            df.withColumn("tier", F.lit(tier))
            .withColumn("context", _sanitize_context_col(F.col("context")))
            .withColumn("path", _sanitize_path_col(F.col("path")))
            .withColumn("year", F.year("signalk_timestamp"))
            .withColumn("day", F.lpad(F.dayofyear("signalk_timestamp").cast("string"), 3, "0"))
        )
        # hash-partition by the partition keys so each (context, path, day)
        # is written by ONE task -> one file per partition per batch instead
        # of one per task (the small-file pressure SURVEY §7 flags as the
        # reference model's #1 risk at scale); maxRecordsPerFile caps the
        # skewed-key case
        out = out.repartition(F.col("context"), F.col("path"), F.col("day"))
        writer = (
            out.write.mode(mode)
            .option("maxRecordsPerFile", 5_000_000)
            .partitionBy(*PARTITION_COLS)
        )
        if mode == "overwrite":
            writer = writer.option("partitionOverwriteMode", "dynamic")
        writer.parquet(self.roots[0])

    def write_rollup(
        self, df: DataFrame, tier: str, mode: str = "overwrite", epoch: int = 0
    ) -> None:
        """Write a rollup tier (bucket_time-partitioned by year/day).

        The trailing epoch=<id> partition level exists for streaming
        foreachBatch sinks: a replayed micro-batch (at-least-once delivery
        after a crash between write and checkpoint commit) dynamically
        overwrites exactly its own epoch partitions with identical content —
        idempotent without a transactional table format. Batch writes use
        epoch=0 so EVERY rollup tier has the same partition depth: Spark's
        partition discovery raises 'Conflicting partition column names' when
        one subtree of a scan has the epoch level and another doesn't, so a
        tier written by both batch and streaming would otherwise become
        unreadable. (Raw stays epoch-free; tier=None reads go subtree-per-
        tier, see read().) A compaction pass can later fold epochs away."""
        out = (
            df.withColumn("tier", F.lit(tier))
            .withColumn("context", _sanitize_context_col(F.col("context")))
            .withColumn("path", _sanitize_path_col(F.col("path")))
            .withColumn("year", F.year("bucket_time"))
            .withColumn("day", F.lpad(F.dayofyear("bucket_time").cast("string"), 3, "0"))
            .withColumn("epoch", F.lit(int(epoch)))
        )
        (
            out.write.mode(mode)
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*PARTITION_COLS, "epoch")
            .parquet(self.roots[0])
        )

    # --- read ------------------------------------------------------------
    def read(
        self,
        tier: str | None = None,
        context: str | None = None,
        path: str | None = None,
        from_ts: datetime | None = None,
        to_ts: datetime | None = None,
    ) -> DataFrame:
        """Partition-pruned scan across all roots, one subtree per (root, tier).

        Each subtree is read with its catalog schema: the union of the
        footers of exactly the files the read lists, so a path scope shows
        only its own subtree's columns. Every filter lands on a partition
        column, so Catalyst prunes directories before listing files (check
        `.explain()` for PartitionFilters). Excluded maintenance subdirs are
        dropped the way the reference does by filename (HistoryAPI.ts:1452).
        """
        dfs = []
        has_excluded = False
        for root in self.roots:
            # narrow the physical read to the partition subtree so the schema
            # unions only THIS path's footers — a lake-wide union would make
            # every path appear to carry every other path's value_* columns
            # (the reference scopes its globs per path the same way,
            # schema-cache.ts:46-173). tier=None must NOT use a single tier=*
            # discovery: raw is 5 partition levels, rollup tiers are 6
            # (trailing epoch), and mixed-depth discovery raises 'Conflicting
            # partition column names'. Read each tier subtree uniformly.
            for t in [tier] if tier else self._tier_names(root):
                sub = f"tier={t}"
                if context:
                    sub += f"/context={sanitize_context(context)}"
                elif path:
                    sub += "/context=*"
                if path:
                    sub += f"/path={sanitize_path(path)}"
                listing = self._listing(root, sub)
                if not listing:
                    continue
                has_excluded = has_excluded or any(_in_excluded_dir(f[0]) for f in listing)
                df = self._read_subtree(root, f"{root}/{sub}", listing)
                if df is not None:
                    dfs.append(df)
        if not dfs:
            # nothing on disk for this (tier, context, path): empty relation
            # with the base record shape (reference: parquet side contributes
            # nothing and the buffer answers, HistoryAPI.ts:1865-1919)
            from ..schema import record_schema

            empty = self.spark.createDataFrame([], record_schema())
            for c, t in (("tier", "string"), ("context", "string"), ("path", "string"),
                         ("year", "int"), ("day", "string")):
                empty = empty.withColumn(c, F.lit(None).cast(t))
            return empty
        df = dfs[0]
        for other in dfs[1:]:
            df = df.unionByName(other, allowMissingColumns=True)

        # Maintenance-dir exclusion (processed/quarantine/failed/repaired,
        # HistoryAPI.ts:1452). input_file_name() is NONDETERMINISTIC, and a
        # nondeterministic Filter is a pushdown BARRIER — it silently disables
        # partition pruning and parquet filter pushdown for the whole scan.
        # So add it only when a file this read lists sits in such a dir
        # (normally never: our lake quarantines to a separate root).
        if has_excluded:
            excl = "|".join(EXCLUDED_SUBDIRS)
            df = df.filter(~F.input_file_name().rlike(f"/({excl})/"))
        if tier:
            df = df.filter(F.col("tier") == tier)
        if context:
            df = df.filter(F.col("context") == sanitize_context(context))
        if path:
            df = df.filter(F.col("path") == sanitize_path(path))
        if from_ts and to_ts:
            days = days_in_range(from_ts, to_ts)
            years = sorted({y for y, _ in days})
            df = df.filter(F.col("year").isin(years))
            if len(days) <= 62:  # bounded day-list pruning, else year-only
                # NB: compare numerically — partition discovery infers the
                # zero-padded day=001 directory value as INTEGER 1, so a
                # padded-string comparison silently drops days < 100
                df = df.filter(
                    F.concat_ws("-", F.col("year"), F.col("day").cast("int")).isin(
                        [f"{y}-{d}" for y, d in days]
                    )
                )
        ts_col = "signalk_timestamp" if tier in (None, "raw") else "bucket_time"
        if from_ts:
            df = df.filter(F.col(ts_col) >= F.lit(from_ts))
        if to_ts:
            df = df.filter(F.col(ts_col) < F.lit(to_ts))  # half-open [from, to)
        return df

    def _read_subtree(self, root: str, sub: str, listing: Listing) -> DataFrame | None:
        """Read one partition subtree through the catalog; None when it
        cannot be read (see ``_guarded``)."""
        return self._guarded(sub, lambda: self._catalog.read(sub, listing, base=root))

    def _guarded(self, sub: str, fn: Callable[[], T]) -> T | None:
        """fn(), or None when ``sub``'s root is unreachable (the hybrid→local
        fallback: connectivity or auth failures on one root must not sink
        the other roots' data).

        The one error that must SURFACE is 'Conflicting partition column
        names' — a malformed layout under a reachable root: a blanket except
        here once turned that layout bug into silently-empty discovery
        results (round-2 advice, high)."""
        from pyspark.errors import AnalysisException

        try:
            return fn()
        except AnalysisException as e:
            msg = str(e)
            if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
                return None  # the subtree vanished between listing and read
            if "conflicting" in msg.lower():
                raise
            # a genuine schema problem (e.g. an incompatible mergeSchema type
            # conflict) must not silently drop this root from discovery —
            # surface it in the log before degrading (ADVICE r03)
            _LOG.warning("lake: dropping root %s from discovery: %s", sub, msg)
            return None
        except Exception as e:
            if "conflicting" in str(e).lower():
                raise
            _LOG.warning("lake: unreachable root %s: %s", sub, e)
            return None  # connectivity/auth/missing fs jars

    # --- driver-side listing ----------------------------------------------
    def _dirs(self, root: str, pattern: str) -> list[str]:
        """Directories matching the glob ``<root>/<pattern>``, relative to
        the root. A missing or unreachable root yields [] — the reference's
        hybrid→local fallback skips absent/failed roots too (HistoryAPI
        falls back to local when the cloud supplement errors)."""
        local = _local_dir(root)
        if local is not None:
            return sorted(
                os.path.relpath(d, local)
                for d in glob.glob(os.path.join(glob.escape(local), pattern))
                if os.path.isdir(d)
            )
        try:
            fs, base = self._hadoop_fs(root)
            found = fs.globStatus(self.spark._jvm.org.apache.hadoop.fs.Path(f"{base}/{pattern}"))
            return sorted(
                st.getPath().toString()[len(base) + 1:] for st in found or [] if st.isDirectory()
            )
        except Exception as e:
            # unreachable scheme/endpoint (no s3a jars, auth, network):
            # degrade to the surviving roots, matching reference behavior
            _LOG.warning("lake: unreachable root %s: %s", root, e)
            return []

    def _files(self, root: str, rel_dir: str) -> list[tuple[str, int, int]]:
        """Data files under ``<root>/<rel_dir>`` as (path relative to the
        root, size, mtime), skipping the names Spark's file index skips. An
        object-store listing that fails yields [], like an unreachable root
        in ``_dirs``."""
        local = _local_dir(root)
        if local is not None:
            return list(walk_local_files(local, rel_dir))
        try:
            fs, base = self._hadoop_fs(root)
            it = fs.listFiles(self.spark._jvm.org.apache.hadoop.fs.Path(f"{base}/{rel_dir}"), True)
            files = []
            while it.hasNext():
                st = it.next()
                rel = st.getPath().toString()[len(base) + 1:]
                if not any(_hidden(part) for part in rel.split("/")):
                    files.append((rel, st.getLen(), st.getModificationTime()))
            return files
        except Exception as e:
            _LOG.warning("lake: unreachable root %s: %s", root, e)
            return []

    def _hadoop_fs(self, root: str):
        """(FileSystem, qualified root string) for a non-local root."""
        hpath = self.spark._jvm.org.apache.hadoop.fs.Path(root)
        fs = hpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return fs, fs.makeQualified(hpath).toString().rstrip("/")

    def _listing(self, root: str, pattern: str) -> Listing:
        """Every data file under the directories matching ``pattern``, sorted
        — the catalog's validation key for that subtree."""
        return tuple(sorted(f for d in self._dirs(root, pattern) for f in self._files(root, d)))

    def _tier_names(self, root: str) -> list[str]:
        return [d.split("=", 1)[1] for d in self._dirs(root, "tier=*")]

    # --- metadata (no Spark job) ---------------------------------------------
    def tiers(self) -> set[str]:
        """Tiers with a ``tier=`` directory under any root."""
        return {t for root in self.roots for t in self._tier_names(root)}

    def nonnull_columns(
        self,
        tier: str,
        context: str | None,
        path: str,
        from_ts: datetime,
        to_ts: datetime,
        among: Callable[[str], bool] = lambda c: True,
    ) -> set[str]:
        """Columns ``among`` accepts that hold at least one non-null value in
        ``path``'s files of the days [from_ts, to_ts] touches. The subtree's
        catalog schema answers first: when it has no such column, no footer
        is read. Otherwise Parquet footer statistics answer: a column counts
        in a file when its null count is below the file's row count. When
        none of those days has files (the range lies in the hot buffer, or
        retention dropped it), the newest day with files answers. Answers
        are kept in the catalog entry and expire with it, so a repeat request
        over an unchanged subtree reads no footer. Footers of object-store
        roots have no driver-side reader here, so their files are counted
        with one Spark job instead."""
        days = {f"year={y}/day={d:03d}" for y, d in days_in_range(from_ts, to_ts)}
        sub = f"tier={tier}/context={sanitize_context(context) if context else '*'}"
        sub += f"/path={sanitize_path(path)}"
        wanted: set[str] = set()
        entries: dict[str, _Entry] = {}
        by_day: dict[str, list[tuple[str, str]]] = {}
        for root in self.roots:
            scan, listing = f"{root}/{sub}", self._listing(root, sub)
            if not listing:
                continue
            entry = self._guarded(scan, lambda: self._catalog.entry(scan, listing, root))
            cols = {c for c in entry.schema.fieldNames() if among(c)} if entry else set()
            if not cols:
                continue
            wanted |= cols
            entries[root] = entry
            for rel, _size, _mtime in listing:
                if not _in_excluded_dir(rel):
                    by_day.setdefault(_day_key(rel), []).append((root, rel))
        if not by_day:
            return set()
        in_range = [f for day in days & by_day.keys() for f in by_day[day]]
        files = in_range or by_day[max(by_day)]
        found: set[str] = set()
        for root, entry in entries.items():
            rels = tuple(rel for r, rel in files if r == root)
            if rels and rels not in entry.nonnull:
                entry.nonnull[rels] = self._count_nonnull(root, rels)
            found |= entry.nonnull.get(rels, set())
        return found & wanted

    def _count_nonnull(self, root: str, rels: tuple[str, ...]) -> set[str]:
        """Columns with a non-null value in any of ``rels``: footers for a
        local root, one Spark job for an object-store root."""
        local = _local_dir(root)
        if local is not None:
            return set().union(*(_footer_nonnull_columns(os.path.join(local, r)) for r in rels))
        df = self.spark.read.option("mergeSchema", "true").parquet(*(f"{root}/{r}" for r in rels))
        counts = df.select([F.count(F.col(f"`{c}`")).alias(c) for c in df.columns]).first()
        return {c for c in df.columns if counts[c]}

    def schema_probe(self, tier: str = "raw") -> list[str]:
        """Column inventory (replaces parquet_schema() probing, S6) — the
        catalog schema, merged only when the tier's files changed."""
        return self.read(tier=tier).columns

    def _partition_values(self, pattern: str) -> set[str]:
        """Values of the last partition level of ``pattern`` whose directory
        holds a data file outside the maintenance dirs."""
        found = set()
        for root in self.roots:
            for d in self._dirs(root, pattern):
                if any(not _in_excluded_dir(f[0]) for f in self._files(root, d)):
                    found.add(unquote(d.rsplit("=", 1)[1]))
        return found

    def discover_contexts(self) -> list[str]:
        """DISTINCT context from partition directory names — no file scan
        (context-discovery.ts:250-256)."""
        return sorted(unsanitize_context(c) for c in self._partition_values("tier=*/context=*"))

    def discover_paths(self, context: str | None = None) -> list[str]:
        ctx = sanitize_context(context) if context else "*"
        return sorted(
            unsanitize_path(p) for p in self._partition_values(f"tier=*/context={ctx}/path=*")
        )


@dataclass
class _Entry:
    """A merged schema, valid for exactly the listing it was merged from,
    and the footer answers computed under it (``Lake.nonnull_columns``:
    non-null columns by file set)."""

    listing: Listing
    schema: StructType
    nonnull: dict[tuple[str, ...], set[str]] = field(default_factory=dict)


class SchemaCatalog:
    """Merged Parquet schemas, one per scan path, each valid for exactly the
    file listing it was merged from. A read with a matching listing passes
    the schema to the reader and runs no Spark job; any other listing runs
    Spark's footer-merge job once and replaces the entry."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._entries: dict[str, _Entry] = {}

    def entry(self, scan: str, listing: Listing, base: str) -> _Entry:
        entry = self._entries.get(scan)
        if entry is None or entry.listing != listing:
            reader = self.spark.read.option("basePath", base).option("mergeSchema", "true")
            entry = self._entries[scan] = _Entry(listing, reader.parquet(scan).schema)
        return entry

    def read(self, scan: str, listing: Listing, base: str) -> DataFrame:
        schema = self.entry(scan, listing, base).schema
        return self.spark.read.option("basePath", base).schema(schema).parquet(scan)


def _local_dir(root: str) -> str | None:
    """The local filesystem path of ``root``; None for an object-store root."""
    local = root.removeprefix("file:")
    return None if "://" in local else local


def _hidden(name: str) -> bool:
    # the names Spark's file index skips: _SUCCESS, _temporary, .crc files
    return name.startswith(("_", "."))


def walk_local_files(local: str, rel_dir: str) -> Iterator[tuple[str, int, int]]:
    """(path relative to ``local``, size, mtime) of the data files under
    ``<local>/<rel_dir>``, in sorted order, skipping the names Spark skips."""
    for dirpath, dirnames, filenames in os.walk(os.path.join(local, rel_dir)):
        dirnames[:] = sorted(d for d in dirnames if not _hidden(d))
        for name in sorted(filenames):
            if _hidden(name):
                continue
            full = os.path.join(dirpath, name)
            try:
                st = os.stat(full)
            except FileNotFoundError:  # deleted since the walk listed it
                continue
            yield os.path.relpath(full, local), st.st_size, st.st_mtime_ns


def _in_excluded_dir(rel: str) -> bool:
    return any(part in EXCLUDED_SUBDIRS for part in rel.split("/")[:-1])


def _day_key(rel: str) -> str:
    """The ``year=Y/day=D`` part of a file's path relative to the root."""
    m = _DAY_RE.search(rel)
    return m.group(0) if m else ""


def _footer_nonnull_columns(file: str) -> set[str]:
    """Columns of one Parquet file with at least one non-null value, read
    from its footer; a chunk without a null count may hold data. A file
    that vanished since its listing (retention, a day re-export) or is not
    Parquet has none."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        md = pq.read_metadata(file)
    except (OSError, pa.ArrowException):
        return set()
    nulls: dict[str, int] = {}
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        for j in range(rg.num_columns):
            chunk = rg.column(j)
            st = chunk.statistics
            n = st.null_count if st is not None and st.has_null_count else 0
            nulls[chunk.path_in_schema] = nulls.get(chunk.path_in_schema, 0) + n
    return {c for c, n in nulls.items() if n < md.num_rows}


def _sanitize_context_col(c):
    return F.regexp_replace(F.regexp_replace(c, r"\.", "__"), ":", "-")


def _sanitize_path_col(c):
    return F.regexp_replace(c, r"\.", "__")
