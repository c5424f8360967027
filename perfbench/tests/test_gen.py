"""The generators are pure functions of the seed."""

from __future__ import annotations

import json

import numpy as np

from perfbench.gen import DROP, PATHS, Fleet, gate_tables


def test_fleet_same_seed_same_inputs():
    a, b = Fleet(5, 2, 2, 600), Fleet(5, 2, 2, 600)
    assert a.contexts == b.contexts
    for v in range(2):
        for d in range(2):
            assert a.records(v, d).equals(b.records(v, d))
            assert a.deltas(v, d) == b.deltas(v, d)


def test_fleet_other_seed_other_inputs():
    a, b = Fleet(5, 2, 2, 600), Fleet(6, 2, 2, 600)
    assert a.contexts != b.contexts
    assert not a.records(0, 0).equals(b.records(0, 0))


def test_records_and_deltas_carry_the_same_samples():
    f = Fleet(3, 1, 1, 3600)
    s = f.samples(0, 0)
    rec = f.records(0, 0).to_pylist()
    deltas = [json.loads(x) for x in f.deltas(0, 0)]
    assert len(rec) == len(deltas) * len(PATHS) == len(s["ts_ms"]) * len(PATHS)
    speed = [r["value"] for r in rec if r["path"] == "navigation.speedOverGround"]
    from_deltas = [v["value"] for d in deltas for v in d["updates"][0]["values"]
                   if v["path"] == "navigation.speedOverGround"]
    assert speed == from_deltas
    assert np.all(np.diff(s["ts_ms"]) > 0)


def test_fleet_leaves_gaps():
    n = len(Fleet(4, 1, 1, 30).samples(0, 0)["ts_ms"])
    assert abs(n / (86_400 // 30) - (1 - DROP)) < 0.02


def test_gate_tables_same_seed_same_tables():
    a, b, c = gate_tables(9), gate_tables(9), gate_tables(10)
    assert a.keys() == b.keys()
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
