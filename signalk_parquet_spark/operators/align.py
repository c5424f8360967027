"""Multi-series time alignment (SURVEY §2.4 J2).

The reference merges per-path `[ts, value]` series into `[ts, v1..vk]` rows
IN JS ON THE DRIVER (src/HistoryAPI.ts:1992-2013) — the one reference
component that must NOT be ported as-is (it materializes every series in one
process). The idiomatic Spark form is a pivot / k-way full-outer join on the
bucket timestamp, which stays distributed.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def align_pivot(
    df: DataFrame,
    bucket_col: str,
    series_col: str,
    value_col: str,
    series_values: Sequence[str] | None = None,
) -> DataFrame:
    """Long→wide: one row per bucket, one column per series.

    Passing ``series_values`` explicitly skips the extra distinct-values job
    Spark would otherwise run (matters on 100 TB; the History planner always
    knows its requested paths up front, so it always passes them).
    """
    g = df.groupBy(bucket_col)
    p = g.pivot(series_col, list(series_values)) if series_values else g.pivot(series_col)
    return p.agg(F.first(value_col)).orderBy(bucket_col)


def align_join(frames: dict[str, DataFrame], bucket_col: str, value_col: str) -> DataFrame:
    """k-way full-outer join form (used when each series was aggregated by a
    different method and lives in its own frame — the reference's per-path
    query model). Null-fills like the reference's JS merge. The rows come
    back unordered: callers sort once, after their last transformation."""
    renamed = [df.select(F.col(bucket_col), F.col(value_col).alias(name)) for name, df in frames.items()]
    return reduce(lambda a, b: a.join(b, on=bucket_col, how="full_outer"), renamed)
