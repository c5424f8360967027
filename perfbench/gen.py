"""Seeded input generators for the benchmark.

Everything the program under test receives is made here from one integer
seed: the same seed gives byte-identical inputs.

* :class:`Fleet` — SignalK telemetry for a few vessels: four scalar paths,
  two angular (``rad``) paths and ``navigation.position``, each sample
  tagged with one of two source labels. It renders the same samples as
  DataRecord rows (the lake's schema, for the ``history`` lake) and as
  SignalK delta JSON lines (the wire format, for ``lifecycle``).
* :func:`write_gate_tables` — the ten tables the registered gate queries
  read (TPC-H-like star schema plus ``events``, ``documents`` and
  ``embeddings``), in the column layout the gates expect.
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

UTC = timezone.utc

#: path -> kind; units follow SignalK (angles in rad, speeds in m/s)
PATHS = {
    "navigation.speedOverGround": "scalar",
    "environment.depth.belowTransducer": "scalar",
    "environment.wind.speedApparent": "scalar",
    "electrical.batteries.house.voltage": "scalar",
    "navigation.headingTrue": "angular",
    "environment.wind.angleApparent": "angular",
    "navigation.position": "position",
}
SCALAR_PATHS = [p for p, k in PATHS.items() if k == "scalar"]
ANGULAR_PATHS = [p for p, k in PATHS.items() if k == "angular"]
POSITION_PATH = "navigation.position"
UNITS = {p: "rad" for p in ANGULAR_PATHS}
SOURCES = ("can0.115", "can0.22")
#: object components ingest flattens into value_<name> columns
VALUE_COLUMNS = {"latitude": "double", "longitude": "double"}
#: the first simulated day; every workload's clock is anchored here
EPOCH = datetime(2024, 5, 1, tzinfo=UTC)
#: share of sample slots with no sample (gaps in the feed), so that tier
#: buckets hold unequal sample counts
DROP = 0.1

_SCALAR_BASE = {
    "navigation.speedOverGround": (3.0, 0.05, 0.0, 12.0),
    "environment.depth.belowTransducer": (25.0, 0.4, 2.0, 200.0),
    "environment.wind.speedApparent": (7.0, 0.2, 0.0, 30.0),
    "electrical.batteries.house.voltage": (12.8, 0.01, 11.5, 14.4),
}


@dataclass(frozen=True)
class Fleet:
    """``vessels`` vessels sampled every ``step_s`` seconds for ``days``
    days from :data:`EPOCH`, with a share :data:`DROP` of the slots empty.
    One sample carries a value for every path."""

    seed: int
    vessels: int
    days: int
    step_s: int

    @property
    def contexts(self) -> list[str]:
        rng = np.random.default_rng([self.seed, 1])
        # distinct 9-digit MMSIs: one per block of the range
        block = 600_000_000 // self.vessels
        mmsis = 200_000_000 + np.arange(self.vessels) * block + rng.integers(0, block, self.vessels)
        return [f"vessels.urn:mrn:imo:mmsi:{int(m)}" for m in mmsis]

    @property
    def start(self) -> datetime:
        return EPOCH

    def day_start(self, d: int) -> datetime:
        return EPOCH + timedelta(days=d)

    def samples(self, vessel: int, day: int) -> dict[str, np.ndarray]:
        """One vessel-day of samples as column arrays: ``ts_ms`` (epoch ms),
        ``source`` (index into SOURCES) and one array per value field
        (``lat``/``lon`` for the position)."""
        rng = np.random.default_rng([self.seed, 2, vessel, day])
        n = 86_400 // self.step_s
        t0 = int(self.day_start(day).timestamp() * 1000)
        # strictly increasing: grid + sub-step jitter that never reaches the
        # next grid point
        jitter = rng.integers(0, self.step_s * 1000 // 2, n)
        ts = t0 + np.arange(n, dtype=np.int64) * self.step_s * 1000 + jitter
        out: dict[str, np.ndarray] = {"ts_ms": ts, "source": rng.integers(0, 2, n)}
        for p in SCALAR_PATHS:
            base, sd, lo, hi = _SCALAR_BASE[p]
            walk = base + np.cumsum(rng.normal(0.0, sd, n))
            out[p] = np.round(np.clip(walk, lo, hi), 6)
        for p in ANGULAR_PATHS:
            a = rng.uniform(-math.pi, math.pi) + np.cumsum(rng.normal(0.0, 0.05, n))
            out[p] = np.round(np.mod(a + math.pi, 2 * math.pi) - math.pi, 9)
        # a track: per-vessel home port, heading random walk, ~3 m/s
        home = np.random.default_rng([self.seed, 3, vessel])
        lat0, lon0 = home.uniform(40.0, 60.0), home.uniform(-10.0, 20.0)
        hdg = rng.uniform(0, 2 * math.pi) + np.cumsum(rng.normal(0, 0.03, n))
        step_m = 3.0 * self.step_s
        dlat = np.cos(hdg) * step_m / 111_320.0
        dlon = np.sin(hdg) * step_m / (111_320.0 * math.cos(math.radians(lat0)))
        out["lat"] = np.round(lat0 + 0.2 * math.sin(day) + np.cumsum(dlat), 7)
        out["lon"] = np.round(lon0 + 0.2 * math.cos(day) + np.cumsum(dlon), 7)
        keep = rng.random(n) >= DROP
        return {k: v[keep] for k, v in out.items()}

    # ------------------------------------------------------------------
    def records(self, vessel: int, day: int) -> pa.Table:
        """DataRecord rows (the schema ``deltas_to_records`` produces with
        :data:`VALUE_COLUMNS`) for one vessel-day, one row per path per
        sample."""
        s = self.samples(vessel, day)
        n = len(s["ts_ms"])
        ctx = self.contexts[vessel]
        cols: dict[str, list] = {k: [] for k in (
            "ts_ms", "path", "value", "value_json", "source_idx", "lat", "lon")}
        for p, kind in PATHS.items():
            cols["ts_ms"].append(s["ts_ms"])
            cols["path"].append(np.full(n, p, dtype=object))
            cols["source_idx"].append(s["source"])
            if kind == "position":
                cols["value"].append(np.full(n, np.nan))
                cols["value_json"].append(np.array(
                    [json.dumps({"latitude": float(a), "longitude": float(b)},
                                separators=(",", ":"))
                     for a, b in zip(s["lat"], s["lon"])], dtype=object))
                cols["lat"].append(s["lat"])
                cols["lon"].append(s["lon"])
            else:
                cols["value"].append(s[p])
                cols["value_json"].append(np.full(n, None, dtype=object))
                cols["lat"].append(np.full(n, np.nan))
                cols["lon"].append(np.full(n, np.nan))
        ts = np.concatenate(cols["ts_ms"])
        src = np.concatenate(cols["source_idx"])
        labels = np.array(SOURCES, dtype=object)[src]
        value = np.concatenate(cols["value"])
        lat = np.concatenate(cols["lat"])
        lon = np.concatenate(cols["lon"])
        tsa = pa.array(ts * 1000, type=pa.timestamp("us", tz="UTC"))
        m = len(ts)
        nul_s = pa.nulls(m, pa.string())
        return pa.table({
            "received_timestamp": tsa,
            "signalk_timestamp": tsa,
            "context": pa.array(np.full(m, ctx, dtype=object), pa.string()),
            "path": pa.array(np.concatenate(cols["path"]), pa.string()),
            "value": pa.array(value, pa.float64(), mask=np.isnan(value)),
            "value_text": nul_s,
            "value_bool": pa.nulls(m, pa.bool_()),
            "value_json": pa.array(np.concatenate(cols["value_json"]), pa.string()),
            "source": pa.array(np.array([_source_json(x) for x in SOURCES], dtype=object)[src],
                               pa.string()),
            "source_label": pa.array(labels, pa.string()),
            "source_type": pa.array(np.full(m, "NMEA2000", dtype=object), pa.string()),
            "source_pgn": pa.nulls(m, pa.float64()),
            "source_src": pa.array(np.array([x.split(".")[1] for x in SOURCES], dtype=object)[src],
                                   pa.string()),
            "meta": nul_s,
            "value_latitude": pa.array(lat, pa.float64(), mask=np.isnan(lat)),
            "value_longitude": pa.array(lon, pa.float64(), mask=np.isnan(lon)),
        })

    def deltas(self, vessel: int, day: int) -> list[str]:
        """The same vessel-day as SignalK delta JSON lines: one delta per
        sample carrying one update with every path's value."""
        s = self.samples(vessel, day)
        ctx = self.contexts[vessel]
        lines = []
        for i, t in enumerate(s["ts_ms"]):
            label = SOURCES[int(s["source"][i])]
            values = []
            for p, kind in PATHS.items():
                if kind == "position":
                    v = {"latitude": float(s["lat"][i]), "longitude": float(s["lon"][i])}
                else:
                    v = float(s[p][i])
                values.append({"path": p, "value": v})
            lines.append(json.dumps({
                "context": ctx,
                "updates": [{
                    "timestamp": _iso_ms(int(t)),
                    "$source": label,
                    "source": {"label": label.split(".")[0], "type": "NMEA2000",
                               "src": label.split(".")[1]},
                    "values": values,
                }],
            }, separators=(",", ":")))
        return lines


def _source_json(label: str) -> str:
    bus, src = label.split(".")
    return json.dumps({"label": bus, "type": "NMEA2000", "src": src}, separators=(",", ":"))


def _iso_ms(ms: int) -> str:
    dt = datetime.fromtimestamp(ms / 1000, UTC)
    return dt.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ms % 1000:03d}Z"


# ----------------------------------------------------------------------
# gate tables

_VOCAB = (
    "a the big small fast slow data table row column key value query scan filter "
    "join merge sort hash group agg order part line customer window stream batch "
    "spark vector"
).split()
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PART_ADJ = ("cold", "hot", "small", "large", "shiny", "dull")
_PART_NOUN = ("widget", "bolt", "gear", "panel", "valve", "spring")
_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
_LANGS = ("en", "en", "de", "es", "fr", "zh")

#: rows per table: the shape of the TPC-H-like fixture at scale factor 0.01,
#: the scale of the program's oracle-parity tests. At the 0.1 shape that
#: the program's bench times, one pass over the timed gates took 35 s and
#: their DuckDB oracles 102 s (the quadratic near-duplicate oracles over
#: 5,000 documents), too long for a run.
GATE_TABLE_ROWS = {
    "region": 5, "nation": 25, "customer": 1_500, "supplier": 100, "part": 2_000,
    "orders": 15_000, "lineitem": 60_000, "events": 10_000, "documents": 500,
    "embeddings": 500,
}


def _days(rng: np.random.Generator, lo: str, hi: str, n: int) -> pa.Array:
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    d = rng.integers(a, b + 1, n)
    return pa.array(d * 86_400_000_000, pa.timestamp("us"))


def gate_tables(seed: int) -> dict[str, pa.Table]:
    """The ten gate tables for one seed (see :data:`GATE_TABLE_ROWS`)."""
    rng = np.random.default_rng([seed, 10])
    n = GATE_TABLE_ROWS
    i32, i64 = pa.int32(), pa.int64()
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n["customer"]), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2),
        "c_mktsegment": rng.choice(_SEGMENTS, n["customer"]),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n["supplier"]), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2),
    })
    np_ = n["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(range(np_), i64),
        "p_name": np.char.add(np.char.add(rng.choice(_PART_ADJ, np_), " "),
                              rng.choice(_PART_NOUN, np_)),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": rng.choice(_PART_TYPES, np_),
        "p_size": pa.array(rng.integers(1, 51, np_), i32),
        "p_retailprice": np.round(900.0 + np.arange(np_) * 0.1, 1),
    })
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), i64),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, no), 2),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": rng.choice(_PRIORITIES, no),
    })
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(float)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, np_, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["O", "F"], nl),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
    })
    ne = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(t0 + rng.integers(0, 30 * 86_400_000_000, ne))
    out["events"] = pa.table({
        "event_id": pa.array(range(ne), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, ne * 15 // 1000), ne), i64),
        "event_type": rng.choice(_EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i and rng.random() < 0.05:
            # a near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_VOCAB, int(rng.integers(8, 90)))))
    out["documents"] = pa.table({
        "doc_id": pa.array(range(nd), i64),
        "text": texts,
        "lang": rng.choice(_LANGS, nd),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    nv = n["embeddings"]
    vec = rng.normal(0.0, 1.0, (nv, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(nv), i64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), i32),
    })
    return out


def write_gate_tables(seed: int, out_dir: str) -> dict[str, int]:
    """Write :func:`gate_tables` as ``<out_dir>/<table>.parquet``; returns
    rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    written = {}
    for name, table in gate_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        written[name] = table.num_rows
    return written
