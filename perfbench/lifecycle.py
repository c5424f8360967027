"""``lifecycle``: writes beside reads on a lake that grows from empty.

Set-up writes the simulated days as SignalK delta JSON-lines files, one
file per ``BATCHES``-th of a day. The timed part then, day after day:
parses each batch with ``deltas_to_records`` and appends it to the
``HotBuffer``; at the day's end exports it (``export_day``), refreshes
every tier with ``rollup_incremental`` (one call per tier and value kind)
and runs ``retention_cleanup`` on the lake and the buffer. After the
last day one round of the ``history`` mix runs against a planner that
lived through the whole run. Each day's raw rows and tier rows are
checked against DuckDB before the next day starts.
"""

from __future__ import annotations

import os
import time
from contextlib import nullcontext
from datetime import timedelta

import numpy as np

from .common import Op, Result, pct
from .gen import ANGULAR_PATHS, PATHS, POSITION_PATH, SCALAR_PATHS, UNITS, VALUE_COLUMNS, Fleet
from .history import TIERS, report_requests, run_mix
from .oracle import TIER_MS, LakeState, Oracle

VESSELS, DAYS, STEP_S, BATCHES = 3, 7, 60, 2
#: retention: base days for ``retention_cleanup`` (tiers keep a multiple)
BASE_DAYS = 2
TIER_KEEP = {"raw": 1, "5s": 2, "60s": 4, "1h": 12}
KINDS = (("scalar", SCALAR_PATHS), ("angular", ANGULAR_PATHS), ("position", [POSITION_PATH]))


def write_deltas(fleet: Fleet, out_dir: str, days=None) -> dict[int, list[str]]:
    """Day -> batch files of delta lines, every vessel interleaved by time,
    for ``days`` (default: every simulated day)."""
    os.makedirs(out_dir)
    files: dict[int, list[str]] = {}
    for d in range(fleet.days) if days is None else days:
        timed_lines = sorted(
            (int(t), v, line) for v in range(fleet.vessels)
            for t, line in zip(fleet.samples(v, d)["ts_ms"], fleet.deltas(v, d)))
        lines = [line for _, _, line in timed_lines]
        per = -(-len(lines) // BATCHES)
        for b in range(BATCHES):
            path = os.path.join(out_dir, f"day{d:02d}-batch{b}.jsonl")
            with open(path, "w") as fh:
                fh.write("\n".join(lines[b * per:(b + 1) * per]) + "\n")
            files.setdefault(d, []).append(path)
    return files


def day_rows(fleet: Fleet, d: int) -> int:
    """DataRecord rows one simulated day yields (every vessel, every path)."""
    return sum(len(fleet.samples(v, d)["ts_ms"]) for v in range(fleet.vessels)) * len(PATHS)


class WritePath:
    """The program's write path on one lake and hot buffer, each step one
    operation recorded in ``res``: delta batches parsed by
    ``deltas_to_records`` and appended to the buffer; at a day's end its
    export, every tier's ``rollup_incremental`` (one call per tier and value
    kind in ``kinds``) and retention. With ``setup`` the steps are recorded
    as set-up operations: checked and counted, but not part of the timed
    mix, and not traced as operations of their own (their spans still are).
    """

    def __init__(self, spark, lake, buffer, fleet: Fleet, oracle: Oracle, res: Result,
                 tracer, kinds=KINDS, setup: bool = False):
        self.spark, self.lake, self.buffer = spark, lake, buffer
        self.fleet, self.oracle, self.res, self.tracer = fleet, oracle, res, tracer
        self.kinds, self.setup = kinds, setup

    def _op(self, kind: str, fn, *args) -> Op:
        """Run one write-path step; a raise is a failed operation."""
        t = time.perf_counter()
        ok, detail = True, ""
        try:
            with nullcontext() if self.setup else self.tracer.op(kind):
                fn(*args)
        except Exception as e:  # noqa: BLE001 - a failed operation is a result
            ok, detail = False, f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
        self.res.add(kind, (time.perf_counter() - t) * 1000.0, ok, detail, setup=self.setup)
        return self.res.ops[-1]

    def _append(self, path: str) -> None:
        from signalk_parquet_spark.sources.deltas import deltas_to_records

        recs = deltas_to_records(self.spark.read.text(path).withColumnRenamed("value", "delta"),
                                 value_columns=VALUE_COLUMNS)
        self.buffer.append(recs)

    def _rollups(self, day) -> None:
        from pyspark.sql import functions as F

        from signalk_parquet_spark.operators.incremental import rollup_incremental

        late = self.buffer.read(from_ts=day, to_ts=day + timedelta(days=1))
        for tier in TIERS:
            for kind, paths in self.kinds:
                with self.tracer.span("operators.rollup_incremental", tier=tier) as sp:
                    n = rollup_incremental(self.lake, late.filter(F.col("path").isin(paths)),
                                           tier, kind=kind)
                if sp is not None:
                    sp.attrs["touched"] = n

    def _retention(self, d: int) -> None:
        from signalk_parquet_spark.operators.lifecycle import retention_cleanup

        with self.tracer.span("operators.retention"):
            retention_cleanup(self.lake, self.fleet.day_start(d + 1), base_days=BASE_DAYS)
        # the exported day leaves the buffer
        self.buffer.retention_cleanup(self.fleet.day_start(d + 1))

    def append(self, files: list[str]) -> list[Op]:
        """Append a day's batch files to the hot buffer."""
        return [self._op("append", self._append, path) for path in files]

    def close_day(self, d: int) -> list[Op]:
        """Export day ``d``, refresh the tiers from it, run retention, then
        check the day's raw and tier rows (untimed); a mismatch fails the
        step that wrote the rows."""
        day = self.fleet.day_start(d)
        ops = [self._op("export", self.buffer.export_day, self.lake, day),
               self._op("rollup", self._rollups, day),
               self._op("retention", self._retention, d)]
        for err in verify_day(self.spark, self.lake, self.oracle, self.fleet, d,
                              [p for _, paths in self.kinds for p in paths]):
            op = ops[0] if err.startswith("raw") else ops[1]
            op.ok, op.detail = False, err
            break
        return ops


def kept(days: list[int], now_day: int, tier: str) -> set[int]:
    """Days a tier still holds after retention ran at the start of
    ``now_day``: a day partition survives while it is no older than the
    tier's keep window."""
    keep = BASE_DAYS * TIER_KEEP[tier]
    return {d for d in days if d >= now_day - keep}


def verify_day(spark, lake, oracle: Oracle, fleet: Fleet, d: int,
               tier_paths: list[str]) -> list[str]:
    """Raw row counts and checksums per (context, path) for day ``d``, and
    every tier's bucket count, sample count and value checksum for the
    series of ``tier_paths``."""
    from pyspark.sql import functions as F

    start, end = fleet.day_start(d), fleet.day_start(d + 1)
    errors = []
    raw = (lake.read(tier="raw", from_ts=start, to_ts=end)
           .groupBy("context", "path")
           .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"),
                F.sum("value_latitude").alias("lat")).collect())
    got = {(r["context"], r["path"]): (r["n"], r["v"], r["lat"]) for r in raw}
    want = {(c.replace(".", "__").replace(":", "-"), p.replace(".", "__")): (n, v, la)
            for c, p, n, v, la in oracle.con.execute(
                f"SELECT context, path, count(*), sum(v), sum(lat) FROM rec "
                f"WHERE d = {d} GROUP BY 1, 2").fetchall()}
    if set(got) != set(want):
        errors.append(f"raw day {d}: series {sorted(got)} != {sorted(want)}")
    for k, w in want.items():
        g = got.get(k)
        if g is None or g[0] != w[0] or not _close(g[1], w[1]) or not _close(g[2], w[2]):
            errors.append(f"raw day {d} {k}: {g} != {w}")
    for tier in TIERS:
        tw = TIER_MS[tier]
        rows = (lake.read(tier=tier, from_ts=start, to_ts=end)
                .groupBy("context", "path")
                .agg(F.count(F.lit(1)).alias("b"), F.sum("sample_count").alias("n"),
                     F.sum(F.col("value_avg") * F.col("sample_count")).alias("v"))
                .collect())
        got = {(r["context"], r["path"]): (r["b"], r["n"], r["v"]) for r in rows}
        want = {(c.replace(".", "__").replace(":", "-"), p.replace(".", "__")): (b, n, v)
                for c, p, b, n, v in oracle.con.execute(
                    f"SELECT context, path, count(DISTINCT t // {tw}), count(*), "
                    f"CASE WHEN path IN ({','.join(repr(p) for p in ANGULAR_PATHS)}) "
                    f"THEN NULL ELSE sum(v) END FROM rec WHERE d = {d} "
                    f"AND path IN ({','.join(repr(p) for p in tier_paths)}) "
                    f"GROUP BY 1, 2").fetchall()}
        for k, w in want.items():
            g = got.get(k)
            ok = g is not None and g[0] == w[0] and g[1] == w[1]
            if ok and w[2] is not None:  # scalar: sum(avg*n) == sum(v)
                ok = _close(g[2], w[2])
            if not ok:
                errors.append(f"tier {tier} day {d} {k}: {g} != {w}")
    return errors


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return abs(a - b) <= 1e-9 * max(1.0, abs(b))


def run(ws, seed: int, seconds: float, tracer) -> Result:
    from signalk_parquet_spark.plans.history import HistoryPlanner
    from signalk_parquet_spark.sources.buffer import HotBuffer
    from signalk_parquet_spark.sources.lake import Lake

    from .common import start_session

    res = Result("lifecycle")
    fleet = Fleet(seed, VESSELS, DAYS, STEP_S)
    t0 = time.perf_counter()
    files = write_deltas(fleet, ws.path("deltas"))
    oracle = Oracle(fleet)
    oracle.add_days(range(DAYS))
    res.report["generate_s"] = (time.perf_counter() - t0, "s")
    res.input_bytes = sum(os.path.getsize(f) for fs in files.values() for f in fs)

    spark = start_session(tracer, res, "perfbench-lifecycle")
    tracer.install()
    lake = Lake(spark, ws.path("lake"))
    buffer = HotBuffer(spark, ws.path("hot"))
    tracer.write_roots = [ws.path("lake"), ws.path("hot")]
    units = dict(UNITS)
    planner = HistoryPlanner(lake, buffer, units_by_path=units)
    write = WritePath(spark, lake, buffer, fleet, oracle, res, tracer)

    deadline = time.perf_counter() + seconds
    day_s: list[float] = []
    done: list[int] = []
    write_ms = 0.0
    for d in range(DAYS):
        if day_s and time.perf_counter() + day_s[-1] > deadline:
            break
        t_day = time.perf_counter()
        ops = write.append(files[d])
        ops += write.close_day(d)
        day_s.append(time.perf_counter() - t_day)
        write_ms += sum(o.ms for o in ops)
        done.append(d)

    last = done[-1]
    state = LakeState({t: kept(done, last + 1, t) for t in ("raw", *TIERS)}, set())
    raw_days = sorted(state.tiers["raw"]) or [last]
    rng = np.random.default_rng([seed, 200])
    run_mix(res, 0.0, rng, fleet, oracle, state, planner,
            lambda: HistoryPlanner(lake, buffer, units_by_path=units), tracer,
            raw_days, last, fleet.contexts, prefix="req.")

    res.report["days"] = (len(done), "count")
    report_writes(res, sum(day_rows(fleet, d) for d in done), write_ms)
    report_requests(res, prefix="req.")
    return res


def report_writes(res: Result, rows: int, write_ms: float) -> None:
    """The write-path metrics: medians per append and per day, and the
    ingest rate over every write step."""
    res.report["append_p50_ms"] = (pct(res.ms_of("append"), 50), "ms")
    res.report["export_day_s"] = (pct(res.ms_of("export"), 50) / 1000.0, "s")
    res.report["rollup_day_s"] = (pct(res.ms_of("rollup"), 50) / 1000.0, "s")
    res.report["retention_s"] = (pct(res.ms_of("retention"), 50) / 1000.0, "s")
    res.report["ingest_rows_per_s"] = (rows / (write_ms / 1000.0), "1/s")
