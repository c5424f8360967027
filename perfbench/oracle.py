"""Independent answers for every checked output.

History requests are answered by DuckDB straight from the generator's
samples, following the History API's documented semantics rather than the
planner's code: tumbling buckets ``floor(t/R)*R``; tier-routed series
aggregate whole tier buckets (so a coarse bucket holds every tier bucket
that starts in it); the hot buffer wins a bucket over the lake; a bbox
keeps only buckets where a raw position lies in the box; SMA averages the
trailing rows and EMA (numpy) carries the previous value over gaps.
"""

from __future__ import annotations

import json
import math
from dataclasses import dataclass, field
from datetime import datetime, timezone

import duckdb
import numpy as np
import pyarrow as pa

from .gen import ANGULAR_PATHS, PATHS, POSITION_PATH, SOURCES, Fleet

TIER_MS = {"5s": 5_000, "60s": 60_000, "1h": 3_600_000}
REL_TOL = 1e-9
ABS_TOL = 1e-9


@dataclass(frozen=True)
class Spec:
    """One entry of a request's ``paths=`` list."""

    path: str
    method: str = "average"
    smoothing: str | None = None  # "sma" | "ema"
    param: float | None = None
    source: str | None = None

    def render(self) -> str:
        s = self.path
        if self.smoothing:
            s += f":{self.smoothing}:{_num(self.param)}"
        elif self.method != "average":
            s += f":{self.method}"
        if self.source:
            s += f"|{self.source}"
        return s

    @property
    def column(self) -> str:
        """The response column the API documents for this spec."""
        if self.smoothing:
            return f"{self.path}:{self.smoothing}{_num(self.param)}"
        if self.method != "average":
            return f"{self.path}:{self.method}"
        return self.path


def _num(x: float | None) -> str:
    return str(int(x)) if x is not None and x == int(x) else str(x)


@dataclass(frozen=True)
class Request:
    kind: str
    specs: tuple[Spec, ...]
    from_ms: int
    to_ms: int
    resolution_s: float | None
    context: str
    bbox: tuple[float, float, float, float] | None = None  # south, north, west, east

    @property
    def paths(self) -> str:
        return ",".join(s.render() for s in self.specs)

    @property
    def from_iso(self) -> str:
        return _iso(self.from_ms)

    @property
    def to_iso(self) -> str:
        return _iso(self.to_ms)

    @property
    def res_ms(self) -> int:
        if self.resolution_s is not None:
            return max(1, int(self.resolution_s * 1000))
        return max(1, (self.to_ms - self.from_ms) // 500)


def _iso(ms: int) -> str:
    return datetime.fromtimestamp(ms / 1000, timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


def ideal_tier(res_ms: int) -> str:
    s = res_ms / 1000.0
    return "1h" if s >= 3600 else "60s" if s >= 60 else "5s" if s >= 5 else "raw"


def expected_tier(spec: Spec, res_ms: int, tiers) -> str:
    """The tier the API documents for ``spec`` when the lake holds
    ``tiers``: the one the resolution asks for, but raw for a source
    filter, an object path, or a tier the lake does not hold."""
    tier = ideal_tier(res_ms)
    if spec.source or spec.path == POSITION_PATH or tier not in tiers:
        return "raw"
    return tier


@dataclass
class LakeState:
    """Which simulated days each tier of the lake holds, and which days sit
    in the hot buffer."""

    tiers: dict[str, set[int]] = field(default_factory=dict)  # tier -> days
    hot: set[int] = field(default_factory=set)


class Oracle:
    """DuckDB over one fleet's samples, for the days given to :meth:`add_days`."""

    def __init__(self, fleet: Fleet):
        self.fleet = fleet
        self.con = duckdb.connect()
        self.con.execute(
            "CREATE TABLE rec (d INTEGER, context VARCHAR, path VARCHAR, t BIGINT, "
            "src VARCHAR, v DOUBLE, lat DOUBLE, lon DOUBLE)")

    def add_days(self, days) -> None:
        for d in days:
            for vi, ctx in enumerate(self.fleet.contexts):
                s = self.fleet.samples(vi, d)
                n = len(s["ts_ms"])
                src = np.array(SOURCES, dtype=object)[s["source"]]
                for p, kind in PATHS.items():
                    nan = np.full(n, np.nan)
                    tbl = pa.table({
                        "d": pa.array(np.full(n, d, dtype=np.int32)),
                        "context": pa.array(np.full(n, ctx, dtype=object), pa.string()),
                        "path": pa.array(np.full(n, p, dtype=object), pa.string()),
                        "t": pa.array(s["ts_ms"]),
                        "src": pa.array(src, pa.string()),
                        "v": pa.array(nan if kind == "position" else s[p], mask=np.isnan(
                            nan if kind == "position" else s[p])),
                        "lat": pa.array(s["lat"] if kind == "position" else nan,
                                        mask=np.isnan(s["lat"] if kind == "position" else nan)),
                        "lon": pa.array(s["lon"] if kind == "position" else nan,
                                        mask=np.isnan(s["lon"] if kind == "position" else nan)),
                    })
                    self.con.register("_batch", tbl)
                    self.con.execute("INSERT INTO rec SELECT * FROM _batch")
                    self.con.unregister("_batch")

    # --- history requests ----------------------------------------------------
    def _side(self, spec: Spec, req: Request, days: set[int], tier_ms: int | None):
        """Bucket -> aggregate for one source side (lake tier or raw, or the
        hot buffer when ``tier_ms`` is None and ``days`` are hot days)."""
        if not days:
            return {}
        res = req.res_ms
        key = "t" if tier_ms is None else f"(t // {tier_ms}) * {tier_ms}"
        angular = spec.path in ANGULAR_PATHS
        if spec.path == POSITION_PATH:
            agg = "avg(lat), avg(lon)"
        elif spec.method == "average" or spec.smoothing:
            agg = "atan2(avg(sin(v)), avg(cos(v)))" if angular else "avg(v)"
        else:
            agg = {"min": "min(v)", "max": "max(v)", "first": "arg_min(v, t)",
                   "last": "arg_max(v, t)"}[spec.method]
        where = ["context = ?", "path = ?", f"d IN ({','.join(str(x) for x in sorted(days))})"]
        args: list = [req.context, spec.path]
        if spec.source:
            where.append("src = ?")
            args.append(spec.source)
        sql = (f"SELECT (tb // {res}) * {res} AS b, {agg} FROM "
               f"(SELECT *, {key} AS tb FROM rec WHERE {' AND '.join(where)}) "
               f"WHERE tb >= {req.from_ms} AND tb < {req.to_ms} GROUP BY 1")
        rows = self.con.execute(sql, args).fetchall()
        if spec.path == POSITION_PATH:
            return {b: (la, lo) for b, la, lo in rows}
        return {b: v for b, v in rows}

    def _area_buckets(self, req: Request, raw_days: set[int]) -> set[int]:
        s, n, w, e = req.bbox
        lon = f"lon >= {w} AND lon <= {e}" if w <= e else f"(lon >= {w} OR lon <= {e})"
        days = ",".join(str(x) for x in sorted(raw_days)) or "-1"
        rows = self.con.execute(
            f"SELECT DISTINCT (t // {req.res_ms}) * {req.res_ms} FROM rec "
            f"WHERE context = ? AND path = ? AND d IN ({days}) AND t >= {req.from_ms} "
            f"AND t < {req.to_ms} AND lat >= {s} AND lat <= {n} AND {lon}",
            [req.context, POSITION_PATH]).fetchall()
        return {r[0] for r in rows}

    def expected(self, req: Request, state: LakeState) -> tuple[list[str], list[dict]]:
        """(columns, rows) the History API should answer ``req`` with, given
        the lake ``state``; rows are dicts keyed by column, in bucket order."""
        series: dict[str, dict[int, object]] = {}
        for spec in req.specs:
            tier = expected_tier(spec, req.res_ms, {t for t, d in state.tiers.items() if d})
            lake = self._side(spec, req, state.tiers.get(tier, set()),
                              None if tier == "raw" else TIER_MS[tier])
            hot = self._side(spec, req, state.hot, None)
            merged = {**lake, **hot}  # the buffer wins a bucket
            series[spec.column] = merged
        if req.bbox is not None:
            area = self._area_buckets(req, state.tiers.get("raw", set()))
            for spec in req.specs:
                if spec.path != POSITION_PATH:
                    s = series[spec.column]
                    series[spec.column] = {b: v for b, v in s.items() if b in area}
        buckets = sorted(set().union(*[set(s) for s in series.values()]))
        rows = [{"bucket_ts": _iso(b), **{c: s.get(b) for c, s in series.items()}}
                for b in buckets]
        for spec in req.specs:
            if spec.smoothing:
                vals = [r[spec.column] for r in rows]
                sm = sma(vals, int(spec.param)) if spec.smoothing == "sma" else ema(vals, spec.param)
                for r, x in zip(rows, sm):
                    r[spec.column] = x
        for spec in req.specs:
            if spec.path == POSITION_PATH:
                for r in rows:
                    if r[spec.column] is not None:
                        r[spec.column] = {"latitude": r[spec.column][0],
                                          "longitude": r[spec.column][1]}
        return ["bucket_ts", *[s.column for s in req.specs]], rows

    def check(self, req: Request, resp: dict, state: LakeState) -> tuple[bool, str]:
        cols, want = self.expected(req, state)
        got_cols = resp["columns"]
        if got_cols[0] != "bucket_ts" or sorted(got_cols) != sorted(cols):
            return False, f"columns {got_cols} != {cols}"
        got = [dict(zip(got_cols, row)) for row in resp["data"]]
        if len(got) != len(want):
            return False, f"rows {len(got)} != {len(want)}"
        angular = {s.column for s in req.specs if s.path in ANGULAR_PATHS and not s.smoothing}
        for g, w in zip(got, want):
            for c in cols:
                gv, wv = g[c], w[c]
                if isinstance(wv, dict):
                    gv = json.loads(gv) if isinstance(gv, str) else gv
                    ok = gv is not None and all(close(gv.get(k), wv[k]) for k in wv)
                elif c in angular:
                    ok = close_angle(gv, wv)
                else:
                    ok = gv == wv if isinstance(wv, str) or wv is None else close(gv, wv)
                if not ok:
                    return False, f"{c}@{w['bucket_ts']}: got {gv!r} want {wv!r}"
        return True, ""


def close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(float(a), float(b), rel_tol=REL_TOL, abs_tol=ABS_TOL)


def close_angle(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    d = (float(a) - float(b) + math.pi) % (2 * math.pi) - math.pi
    return abs(d) <= ABS_TOL + REL_TOL * abs(float(b))


def sma(values: list, window: int) -> list:
    """Trailing mean of the last ``window`` rows, ignoring gaps."""
    out = []
    for i in range(len(values)):
        w = [v for v in values[max(0, i - window + 1): i + 1] if v is not None]
        out.append(sum(float(v) for v in w) / len(w) if w else None)
    return out


def ema(values: list, alpha: float) -> list:
    """Seeded with the first value; a gap repeats the previous value."""
    out, prev = [], None
    for v in values:
        if v is not None:
            prev = float(v) if prev is None else alpha * float(v) + (1.0 - alpha) * prev
        out.append(prev)
    return out
