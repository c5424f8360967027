"""The v2 in-process provider — SURVEY §3 entry point 3
(src/history-provider.ts:167-248), which differs from the v1 History API
deliberately:

  - raw tier ONLY (no tier selection, :301)
  - parquet ∪ buffer are unioned BEFORE aggregation (:390-394) — a blend,
    not v1's per-source aggregate + priority pick
  - position output is a [lon, lat] array (:424-429), not an object
  - timestamps stay UTC; no smoothing, no local conversion

Kept as a separate thin planner because the semantic differences are the
point — a reference user switching over gets exactly the provider behavior
they had.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.aggregate import bucketed_agg
from ..operators.align import align_join
from ..operators.federation import blend_union
from ..schema import is_position_path, is_string_path
from ..sources.buffer import HotBuffer
from ..sources.lake import Lake
from .pathspec import PathSpec, parse_paths_param
from .timerange import resolve_resolution_ms, resolve_time_range


class HistoryProviderV2:
    def __init__(self, lake: Lake, buffer: HotBuffer | None = None,
                 units_by_path: dict[str, str] | None = None):
        self.lake = lake
        self.buffer = buffer
        self.units_by_path = units_by_path or {}

    def get_values(
        self,
        paths: str | list[PathSpec],
        from_iso: str | None = None,
        to_iso: str | None = None,
        duration: str | int | None = None,
        resolution_s: float | None = None,
        context: str | None = None,
        now: datetime | None = None,
    ) -> DataFrame:
        specs = parse_paths_param(paths) if isinstance(paths, str) else list(paths)
        rng = resolve_time_range(from_iso, to_iso, duration, now=now)
        res_ms = resolve_resolution_ms(rng, resolution_s)

        frames: dict[str, DataFrame] = {}
        for spec in specs:
            cold = self.lake.read(
                tier="raw", context=context, path=spec.path,
                from_ts=rng.from_ts, to_ts=rng.to_ts,
            )
            source = cold
            if self.buffer is not None:
                hot = self.buffer.read(
                    context=context, path=spec.path, from_ts=rng.from_ts, to_ts=rng.to_ts
                )
                if "signalk_timestamp" in hot.columns:
                    # v2: union BEFORE aggregation (history-provider.ts:390-394)
                    source = blend_union([cold, hot])
            frames[spec.column_name] = self._aggregate(source, spec, res_ms)
        # bounded result: one sorted partition, no range-partition sampling
        return align_join(frames, "bucket_ts", "value").coalesce(1).sortWithinPartitions("bucket_ts")

    def _aggregate(self, df: DataFrame, spec: PathSpec, res_ms: int) -> DataFrame:
        if is_position_path(spec.path):
            # v2 position shape: [lon, lat] array (history-provider.ts:424-429)
            from ..functions.time import bucket_iso

            agged = df.groupBy(bucket_iso("signalk_timestamp", res_ms).alias("bucket_ts")).agg(
                F.avg(F.col("value_longitude").cast("double")).alias("lon"),
                F.avg(F.col("value_latitude").cast("double")).alias("lat"),
            )
            return agged.select("bucket_ts", F.array("lon", "lat").alias("value"))
        angular = self.units_by_path.get(spec.path) == "rad"
        value_col = "value_text" if is_string_path(spec.path) else "value"
        method = "first" if is_string_path(spec.path) and spec.method in ("average", "mid") else spec.method
        out = bucketed_agg(
            df, "signalk_timestamp", value_col, res_ms, method,
            angular=angular, out_bucket="bucket_ts",
        )
        return out.select("bucket_ts", "value")
