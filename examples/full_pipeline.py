#!/usr/bin/env python3
"""End-to-end lifecycle demo — the full reference workflow on this engine:

  wire deltas + live stream → hot buffer → daily export → tier rollups →
  late-data incremental tier refresh → retention →
  federated History query (with smoothing + spatial) → historical replay
  → cloud sync

Run: python examples/full_pipeline.py   (~1 min on local[32])
"""

from __future__ import annotations

import math
import os
import sys
import tempfile
from datetime import datetime, timedelta, timezone

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from signalk_parquet_spark.api import discovery_response, get_values_response
from signalk_parquet_spark.operators.cloudsync import (
    distributed_copy,
    list_files,
    sync_plan,
)
from signalk_parquet_spark.operators.lifecycle import RetentionRule, retention_cleanup
from signalk_parquet_spark.streaming.replay import emission_schedule, replay
from signalk_parquet_spark.operators.rollup import rollup_angular, rollup_scalar
from signalk_parquet_spark.plans.history import HistoryPlanner
from signalk_parquet_spark.session import get_spark
from signalk_parquet_spark.sources.buffer import HotBuffer
from signalk_parquet_spark.sources.lake import Lake
from signalk_parquet_spark.streaming.ingest import start_file_ingest
from tests.records import make_record, records_df, scalar_series

UTC = timezone.utc
TODAY = datetime(2024, 6, 2, 10, 0, tzinfo=UTC)
YESTERDAY = datetime(2024, 6, 1, 12, 0, tzinfo=UTC)


def main() -> None:
    spark = get_spark("full-pipeline-demo")
    base = tempfile.mkdtemp(prefix="signalk_demo_")
    lake = Lake(spark, f"{base}/lake")
    buffer = HotBuffer(spark, f"{base}/hot")

    # 0. the actual WIRE FORMAT: SignalK delta JSON parsed declaratively
    #    (sources/deltas.py — the same plan runs under readStream for the
    #    live websocket feed; r9)
    import json

    from signalk_parquet_spark.sources.deltas import deltas_to_records

    wire = [{"context": "vessels.self", "updates": [{
        "timestamp": (TODAY + timedelta(seconds=i)).strftime("%Y-%m-%dT%H:%M:%SZ"),
        "$source": "demo.n2k",
        "source": {"label": "gps", "type": "NMEA2000", "pgn": 129026.0, "src": "1"},
        "values": [{"path": "environment.depth.belowKeel", "value": 12.0 + 0.5 * i}],
    }]} for i in range(5)]
    wire_df = spark.createDataFrame([(json.dumps(w),) for w in wire], "delta string")
    wire_recs = deltas_to_records(wire_df)
    buffer.append(wire_recs)  # meta already null; shape is the buffer contract
    print(f"0. parsed {wire_recs.count()} records from {len(wire)} wire deltas into the buffer")

    # 1. live stream lands in the hot buffer (file source stands in for the
    #    SignalK websocket; swap the source line for Kafka in production)
    live = scalar_series(TODAY, [3.0 + 0.1 * i for i in range(20)])
    live += scalar_series(
        TODAY, [math.radians(10 * (i % 36)) for i in range(20)],
        path="navigation.headingMagnetic", meta='{"units":"rad"}',
    )
    src = f"{base}/live"
    records_df(spark, live).write.parquet(src)
    q = start_file_ingest(spark, src, buffer, records_df(spark, live).schema, f"{base}/ckpt")
    q.awaitTermination(120)
    print(f"1. streamed the live file feed; hot buffer now holds {buffer.read().count()} records")

    # 2. yesterday's data exported to the cold lake (idempotent)
    hist = scalar_series(YESTERDAY, [4, 5, 6, 7, 8])
    hist += [
        make_record(YESTERDAY + timedelta(seconds=i), "navigation.position",
                    {"latitude": 47.5 + i * 1e-4, "longitude": 8.7})
        for i in range(10)
    ]
    old = scalar_series(YESTERDAY - timedelta(days=30), [1.0])  # stale data
    lake.write_records(records_df(spark, hist + old), tier="raw")
    print(f"2. cold lake holds {lake.read(tier='raw').count()} rows")

    # 3. tier rollups materialized (scalar + angular partial state)
    lake.write_rollup(rollup_scalar(lake.read(tier="raw", path="navigation.speedOverGround"), "5s"), "5s")
    print(f"3. tiers on disk: {sorted(lake.tiers())}")

    # 3b. late data arrives for yesterday: export to raw, then refresh the
    # tier INCREMENTALLY — only the touched (context, path, day) partition
    # recomputes (the reference re-aggregates whole days in a loop)
    from signalk_parquet_spark.operators.incremental import rollup_incremental

    late = [
        make_record(YESTERDAY + timedelta(hours=2, seconds=i),
                    "navigation.speedOverGround", 9.0 + i)
        for i in range(5)
    ]
    lake.write_records(records_df(spark, late), tier="raw", mode="append")
    touched = rollup_incremental(lake, records_df(spark, late), "5s")
    print(f"3b. late data: {len(late)} rows -> {touched} tier partition(s) recomputed incrementally")

    # 4. retention drops the 30-day-old partition (7-day raw policy)
    removed = retention_cleanup(lake, TODAY, base_days=7, rules=[RetentionRule("*", 7)])
    print(f"4. retention removed {len(removed)} expired day partition(s)")

    # 5. federated History query: cold yesterday + hot today, EMA smoothing
    planner = HistoryPlanner(lake, buffer,
                             units_by_path={"navigation.headingMagnetic": "rad"})
    resp = get_values_response(
        planner,
        "navigation.speedOverGround:average:ema:5,navigation.headingMagnetic",
        from_iso="2024-06-01T00:00:00Z",
        to_iso="2024-06-02T23:59:59Z",
        resolution_s=3600 * 6,
        tz="Europe/Zurich",
    )
    print(f"5. history query -> {len(resp['data'])} aligned buckets; columns {resp['columns']}")
    for row in resp["data"]:
        print("   ", row)

    print("6. discovery:", discovery_response(planner))

    # 7. historical replay: the History result re-emitted as paced deltas
    #    (the reference's non-functional historical-streaming.ts, working —
    #    a real consumer passes a WebSocket send as emit)
    wide = spark.createDataFrame(
        [tuple(r) for r in resp["data"]], resp["columns"]
    )
    waits: list[float] = []
    deltas: list[dict] = []
    n = replay(
        emission_schedule(wide, ts_col=resp["columns"][0], batch_points=3),
        deltas.append, tick_s=0.1, sleep=waits.append, context="vessels.self",
    )
    print(f"7. replayed {n} deltas in {len(waits) + 1} ticks; first:", deltas[0])

    # 8. cloud sync: plan + distcp-style copy (second local root stands in
    #    for the bucket; s3:// URIs take the same path when network exists)
    plan = sync_plan(list_files(spark, lake.roots[0]), list_files(spark, f"{base}/bucket"))
    stats = distributed_copy(spark, plan, lake.roots[0], f"{base}/bucket")
    print(f"8. synced {stats['uploaded']} files ({stats['bytes']} bytes) to the bucket;"
          f" re-plan uploads:",
          sync_plan(list_files(spark, lake.roots[0]),
                    list_files(spark, f"{base}/bucket"))
          .filter("action = 'upload'").count())

    print("done — lake at", base)


if __name__ == "__main__":
    main()
