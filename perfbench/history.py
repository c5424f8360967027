"""``history``: one long-lived planner serving a seeded request mix over a
lake built during set-up through the program's own write path.

Set-up writes all but the last two simulated days in bulk, as raw
telemetry with ``Lake.write_records`` and as the :data:`TIERS` with
``Lake.write_rollup`` over the ``rollup_*`` operators. The next day goes
through the incremental write path of :class:`.lifecycle.WritePath`:
SignalK delta batches into the ``HotBuffer``, ``export_day``,
``rollup_incremental`` and ``retention_cleanup`` (which drops the oldest
raw day). The last day is appended to the buffer and stays there. The
timed part sends whole rounds of :data:`CLASSES`, one client, closed
loop, and checks every answer against :mod:`.oracle`.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.parquet as pq

from .common import Result, pct, timed
from .gen import ANGULAR_PATHS, PATHS, POSITION_PATH, SCALAR_PATHS, SOURCES, UNITS, Fleet
from .oracle import LakeState, Oracle, Request, Spec, expected_tier

VESSELS, DAYS, STEP_S = 2, 4, 30
#: at one sample per 30 s a 5s tier would copy raw row for row, so the
#: lake keeps the tiers that aggregate: 60s and 1h
TIERS = ("60s", "1h")
#: one round of the mix, in order; ``cold`` and ``discovery`` are the
#: driver-side probe classes, the rest are warm value requests
CLASSES = ("single", "align", "angular", "spatial", "smooth", "source", "tier",
           "cold", "discovery")
WARM = CLASSES[:7]
H = 3_600_000
DAY = 24 * H


def request(kind: str, fleet: Fleet, rng: np.random.Generator, days: list[int],
            hot_day: int) -> Request:
    """One seeded request of class ``kind``. Windows start on whole hours
    inside ``days`` (days whose raw data the lake holds); ``single`` and
    ``cold`` end inside the hot day, so lake and buffer both answer, and
    ``tier`` spans every simulated day up to the hot one. ``align`` asks
    for 90 s buckets, which the planner answers from the 60s tier: each
    bucket re-aggregates tier buckets of unequal sample counts."""
    ctx = fleet.contexts[int(rng.integers(len(fleet.contexts)))]
    day0 = int(fleet.start.timestamp() * 1000)

    def window(hours: int) -> tuple[int, int]:
        d = days[int(rng.integers(len(days)))]
        h = int(rng.integers(0, 25 - hours)) if hours < 24 else 0
        f = day0 + d * DAY + h * H
        return f, f + hours * H

    scalar = lambda: SCALAR_PATHS[int(rng.integers(len(SCALAR_PATHS)))]  # noqa: E731
    if kind in ("single", "cold"):
        to = day0 + hot_day * DAY + int(rng.integers(6, 23)) * H
        p = (SCALAR_PATHS + ANGULAR_PATHS)[int(rng.integers(6))]
        return Request(kind, (Spec(p),), to - DAY, to, None, ctx)
    if kind == "align":
        paths = rng.choice(SCALAR_PATHS, 3, replace=False)
        f, t = window(6)
        return Request(kind, tuple(Spec(str(p)) for p in paths), f, t, 90, ctx)
    if kind == "angular":
        f, t = window(12)
        return Request(kind, tuple(Spec(p) for p in ANGULAR_PATHS), f, t, 120, ctx)
    if kind == "spatial":
        f, t = window(6)
        vi = fleet.contexts.index(ctx)
        d = (f - day0) // DAY
        s = fleet.samples(vi, d)
        sel = (s["ts_ms"] >= f) & (s["ts_ms"] < t)
        lat, lon = s["lat"][sel], s["lon"][sel]
        # a box around the window's first half of the track
        half = len(lat) // 2
        bbox = (float(lat[:half].min()), float(lat[:half].max()),
                float(lon[:half].min()), float(lon[:half].max()))
        specs = (Spec(POSITION_PATH), Spec("navigation.speedOverGround"))
        return Request(kind, specs, f, t, 60, ctx, bbox)
    if kind == "smooth":
        p = scalar()
        f, t = window(12)
        return Request(kind, (Spec(p, smoothing="sma", param=5.0),
                              Spec(p, smoothing="ema", param=0.3)), f, t, 300, ctx)
    if kind == "source":
        method = ("average", "min", "max", "first", "last")[int(rng.integers(5))]
        src = SOURCES[int(rng.integers(len(SOURCES)))]
        f, t = window(6)
        return Request(kind, (Spec(scalar(), method=method, source=src),), f, t, 30, ctx)
    if kind == "tier":
        return Request(kind, (Spec(scalar()),), day0, day0 + (hot_day + 1) * DAY, 3600, ctx)
    raise ValueError(kind)


def serve(kind: str, req: Request | None, planner, new_planner, tracer):
    """Send one request through the API; returns the response."""
    from signalk_parquet_spark.api import discovery_response, get_values_response

    if kind == "discovery":
        with tracer.span("api.discovery_response"):
            return discovery_response(planner)
    if kind == "cold":
        planner = new_planner()
    with tracer.span("api.get_values_response", paths=[s.path for s in req.specs],
                     tiers=[expected_tier(s, req.res_ms, TIERS) for s in req.specs]) as sp:
        resp = get_values_response(
            planner, req.paths, req.from_iso, req.to_iso,
            resolution_s=req.resolution_s, context=req.context, bbox=req.bbox)
    if sp is not None:
        sp.attrs["rows"] = len(resp["data"])
    return resp


def check(kind: str, req: Request | None, resp, oracle: Oracle, state: LakeState,
          contexts: list[str]) -> tuple[bool, str]:
    if kind == "discovery":
        want = {"contexts": sorted(contexts), "paths": sorted(PATHS)}
        if resp == want:
            return True, ""
        return False, f"discovery {resp} != {want}"
    return oracle.check(req, resp, state)


def run_mix(res: Result, rounds_until: float, rng, fleet, oracle, state, planner,
            new_planner, tracer, days: list[int], hot_day: int,
            contexts: list[str], prefix: str = "") -> None:
    """Send whole rounds of :data:`CLASSES` until ``rounds_until`` (a
    ``perf_counter`` deadline) would be passed by one more round; at least
    one round always runs."""
    last_round = 0.0
    while True:
        t_round = time.perf_counter()
        if last_round and t_round + last_round > rounds_until:
            break
        for kind in CLASSES:
            req = None if kind == "discovery" else request(kind, fleet, rng, days, hot_day)
            t0 = time.perf_counter()
            try:
                with tracer.op(prefix + kind):
                    resp = serve(kind, req, planner, new_planner, tracer)
                error = ""
            except Exception as e:  # noqa: BLE001 - a failed request is a result
                error = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
            ms = (time.perf_counter() - t0) * 1000.0
            ok, detail = (False, error) if error else check(kind, req, resp, oracle, state,
                                                            contexts)
            res.add(prefix + kind, ms, ok, detail)
        last_round = time.perf_counter() - t_round


def report_requests(res: Result, prefix: str = "") -> None:
    warm = res.ms_of(*[prefix + k for k in WARM])
    res.report["request_p50_ms"] = (pct(warm, 50), "ms")
    res.report["request_p90_ms"] = (pct(warm, 90), "ms")
    res.report["requests"] = (len(warm), "count")


def stage_inputs(fleet: Fleet, stage: str) -> tuple[str, dict[int, list[str]]]:
    """The generator's inputs for :func:`build_lake`: DataRecord parquet
    files of the bulk days (one per vessel-day) and SignalK delta batch
    files of the last two days."""
    from .lifecycle import write_deltas

    bulk = os.path.join(stage, "records")
    os.makedirs(bulk)
    for v in range(fleet.vessels):
        for d in range(fleet.days - 2):
            pq.write_table(fleet.records(v, d), os.path.join(bulk, f"v{v}-d{d}.parquet"))
    return bulk, write_deltas(fleet, os.path.join(stage, "deltas"),
                              range(fleet.days - 2, fleet.days))


def build_lake(spark, lake, buffer, bulk: str, files: dict[int, list[str]], fleet: Fleet,
               oracle: Oracle, res: Result, tracer) -> LakeState:
    """The lake and hot buffer from :func:`stage_inputs`; returns what each
    tier and the buffer then hold. Times ``lake_build`` (bulk days) and
    ``ingest`` (the write path's steps) as set-up; the write path's steps
    are set-up operations of ``res``, checked against ``oracle``."""
    from pyspark.sql import functions as F

    from signalk_parquet_spark.operators.rollup import rollup_angular, rollup_scalar

    from .lifecycle import KINDS, WritePath, kept

    def bulk_write() -> None:
        raw = spark.read.parquet(bulk)
        lake.write_records(raw, tier="raw")
        # the planner reads object paths (the position) from raw only, so
        # the tiers hold the scalar and angular paths it routes to them
        for tier in TIERS:
            with tracer.span("operators.rollup", tier=tier):
                df = rollup_scalar(raw.filter(F.col("path").isin(SCALAR_PATHS)), tier).unionByName(
                    rollup_angular(raw.filter(F.col("path").isin(ANGULAR_PATHS)), tier),
                    allowMissingColumns=True)
            lake.write_rollup(df, tier)

    _, res.setup["lake_build"] = timed(bulk_write)
    ingest, hot = fleet.days - 2, fleet.days - 1
    write = WritePath(spark, lake, buffer, fleet, oracle, res, tracer, kinds=KINDS[:2],
                      setup=True)
    ops = write.append(files[ingest]) + write.close_day(ingest) + write.append(files[hot])
    res.setup["ingest"] = sum(o.ms for o in ops) / 1000.0
    days = list(range(hot))
    return LakeState({t: kept(days, hot, t) for t in ("raw", *TIERS)}, {hot})


def run(ws, seed: int, seconds: float, tracer) -> Result:
    from signalk_parquet_spark.plans.history import HistoryPlanner
    from signalk_parquet_spark.sources.buffer import HotBuffer
    from signalk_parquet_spark.sources.lake import Lake

    from .common import start_session
    from .lifecycle import day_rows, report_writes

    res = Result("history")
    fleet = Fleet(seed, VESSELS, DAYS, STEP_S)

    # inputs: the generator's records and delta batches
    t0 = time.perf_counter()
    bulk, files = stage_inputs(fleet, ws.path("stage"))
    oracle = Oracle(fleet)
    oracle.add_days(range(DAYS))
    res.report["generate_s"] = (time.perf_counter() - t0, "s")
    res.input_bytes = sum(os.path.getsize(os.path.join(dp, f))
                          for dp, _, fs in os.walk(ws.path("stage")) for f in fs)

    spark = start_session(tracer, res, "perfbench-history")
    tracer.install()
    lake = Lake(spark, ws.path("lake"))
    buffer = HotBuffer(spark, ws.path("hot"))
    tracer.write_roots = [ws.path("lake"), ws.path("hot")]
    state = build_lake(spark, lake, buffer, bulk, files, fleet, oracle, res, tracer)
    units = dict(UNITS)
    planner = HistoryPlanner(lake, buffer, units_by_path=units)
    hot_day = DAYS - 1
    days = sorted(state.tiers["raw"])

    rng = np.random.default_rng([seed, 100])
    deadline = time.perf_counter() + seconds
    run_mix(res, deadline, rng, fleet, oracle, state, planner,
            lambda: HistoryPlanner(lake, buffer, units_by_path=units), tracer,
            days, hot_day, fleet.contexts)

    report_requests(res)
    for kind in ("align", "spatial", "smooth", "tier", "cold", "discovery"):
        res.report[f"{kind}_p50_ms"] = (pct(res.ms_of(kind), 50), "ms")
    report_writes(res, sum(day_rows(fleet, d) for d in files),
                  res.setup["ingest"] * 1000.0)
    res.report["lake_rows"] = (sum(day_rows(fleet, d) for d in range(DAYS)), "count")
    return res
