"""One-time maintenance migrations (SURVEY §2.10): vector-averaging
backfill and position re-aggregation, both with dry-run — plus query-driven
path auto-discovery.

Reference: vector-averaging migration re-aggregates all angular paths' tier
files to add sin/cos columns (api-routes.ts:5231-5371); position
re-aggregation rebuilds position tiers with outlier rejection and supports
dryRun (api-routes.ts:5427-5615); auto-discovery adds a path config the
first time a query asks for an unconfigured path (auto-discovery.ts,
HistoryAPI.ts:1015-1056).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import functions as F

from ..schema import is_position_path
from ..sources.lake import Lake
from .rollup import rollup_angular, rollup_position


def migrate_vector_averaging(
    lake: Lake, angular_paths: list[str], tiers: tuple[str, ...] = ("5s", "60s", "1h"), dry_run: bool = False
) -> dict[str, int]:
    """Rebuild angular paths' tier files from raw so they carry
    value_sin_avg/value_cos_avg partial state. Returns rows written per tier."""
    written: dict[str, int] = {}
    for tier in tiers:
        total = 0
        for path in angular_paths:
            raw = lake.read(tier="raw", path=path)
            rolled = rollup_angular(raw, tier)
            total += rolled.count()
            if not dry_run:
                lake.write_rollup(rolled.withColumn("context", F.col("context")), tier)
        written[tier] = total
    return written


def migrate_position_reaggregation(
    lake: Lake, position_paths: list[str] | None = None, tiers: tuple[str, ...] = ("5s", "60s", "1h"), dry_run: bool = False
) -> dict[str, int]:
    """Rebuild position tiers with GPS-outlier-aware representative points
    (A12). ``dry_run`` counts what would be written without touching disk."""
    paths = position_paths or [p for p in lake.discover_paths() if is_position_path(p)]
    written: dict[str, int] = {}
    for tier in tiers:
        total = 0
        for path in paths:
            raw = lake.read(tier="raw", path=path)
            rolled = rollup_position(raw, tier)
            total += rolled.count()
            if not dry_run:
                lake.write_rollup(rolled, tier)
        written[tier] = total
    return written


def migrate_rollup_epoch(lake: Lake, tiers: list[str] | None = None, dry_run: bool = False) -> dict[str, int]:
    """Flat→epoch layout migration for rollup tiers written before the
    uniform-depth rule (Lake.write_rollup now always adds a trailing
    epoch=<id> level; pre-epoch tiers have 5 partition levels). A pre-epoch
    tier MUST be migrated before any new write lands in it: dynamic
    partition overwrite only replaces epoch=0 subtrees, so old 5-level leaf
    files would survive next to new 6-level ones and the mixed depth makes
    the whole tier unreadable (Conflicting partition column names — which
    Lake.read deliberately surfaces).

    Per tier: read the (still-uniform) old subtree, rewrite through
    write_rollup (lands under epoch=0), then delete the old epoch-less leaf
    files — the same read-rewrite-swap shape as migrate_hive_layout.
    Local roots only (os.walk/os.remove); an object-store lake would swap
    via the store's batch-delete API instead.

    CRASH SAFETY (ADVICE r03): a failure between the rewrite and the
    old-leaf deletion used to strand the tier mixed-depth — unreadable, and
    a re-run died at the same lake.read. The migration now brackets the
    rewrite with marker files at the tier root: ``_rollup_migrating`` is
    created before write_rollup and atomically renamed to
    ``_rollup_migrated`` after it. On re-run: a ``_rollup_migrated`` marker
    means the rewrite is durable, so only the leftover flat leaves are
    deleted (no lake.read needed); a ``_rollup_migrating`` marker means the
    write was interrupted, and since a migration only ever starts from a
    purely flat tier, every epoch= subtree under it belongs to that partial
    write and is scrapped before redoing. Mixed depth WITHOUT a marker is
    not this protocol's doing and raises with guidance instead of guessing
    which side holds the truth."""
    import os
    import shutil

    root = lake.roots[0]
    if tiers is None:
        tiers = [t for t in lake._tier_names(root) if t != "raw"]
    migrated: dict[str, int] = {}
    for tier in tiers:
        local = f"{root}/tier={tier}".removeprefix("file:")
        # pre-epoch leaf files sit directly under day=*/ with no epoch= level
        old_files = [
            os.path.join(dirpath, f)
            for dirpath, dirnames, files in os.walk(local)
            if os.path.basename(dirpath).startswith("day=")
            for f in files
            if f.endswith(".parquet")
        ]
        epoch_dirs = [
            dirpath
            for dirpath, _dn, _f in os.walk(local)
            if os.path.basename(dirpath).startswith("epoch=")
        ]
        start_m = os.path.join(local, "_rollup_migrating")
        done_m = os.path.join(local, "_rollup_migrated")
        if os.path.exists(done_m):
            # rewrite durable; only the old-leaf deletion was interrupted
            if dry_run:
                migrated[tier] = len(old_files)
                continue
            for f in old_files:
                os.remove(f)
            os.remove(done_m)
            migrated[tier] = lake.read(tier=tier).count()
            continue
        if os.path.exists(start_m):
            if dry_run:
                migrated[tier] = len(old_files)
                continue
            # interrupted mid-write: every epoch subtree came from that
            # partial write (migration starts only from a pure flat layout)
            for d in epoch_dirs:
                shutil.rmtree(d, ignore_errors=True)
            os.remove(start_m)
        elif epoch_dirs and old_files:
            raise RuntimeError(
                f"tier={tier}: mixed flat+epoch layout without a migration "
                "marker — not an interrupted migrate_rollup_epoch run. "
                "Resolve manually: either the epoch= subtrees hold writes "
                "that predate the migration (delete the flat leaves after "
                "verifying coverage) or vice versa."
            )
        if not old_files:
            migrated[tier] = 0
            continue
        df = lake.read(tier=tier)  # uniform 5-level read still works pre-write
        n = df.count()
        if not dry_run:
            rows = df.select(
                *[c for c in df.columns if c not in ("tier", "year", "day", "epoch")]
            )
            open(start_m, "w").close()
            lake.write_rollup(rows, tier)
            os.replace(start_m, done_m)  # atomic promote: rewrite is durable
            for f in old_files:
                os.remove(f)
            os.remove(done_m)
        migrated[tier] = n
    return migrated


@dataclass
class AutoDiscovery:
    """Query-driven path configuration: the first query against an
    unconfigured path auto-registers it (capped), honoring include/exclude
    globs — pure config-layer bookkeeping."""

    include: list[str] = field(default_factory=lambda: ["*"])
    exclude: list[str] = field(default_factory=list)
    cap: int = 100
    configured: set[str] = field(default_factory=set)

    def check(self, path: str) -> bool:
        """True if the path is (now) configured; registers it when allowed."""
        import fnmatch

        if path in self.configured:
            return True
        if len(self.configured) >= self.cap:
            return False
        if any(fnmatch.fnmatch(path, pat) for pat in self.exclude):
            return False
        if not any(fnmatch.fnmatch(path, pat) for pat in self.include):
            return False
        self.configured.add(path)
        return True
