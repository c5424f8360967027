"""The oracles agree with the program on a tiny seed, and the contract
metric names match BENCHMARK.json."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from perfbench import history
from perfbench.common import ROOT, Result, contract_values
from perfbench.gen import UNITS, Fleet
from perfbench.layers import layer_metrics
from perfbench.oracle import LakeState, Oracle, ema, sma
from perfbench.trace import Tracer


def test_smoothing_references():
    assert sma([1.0, None, 3.0, 5.0], 2) == [1.0, 1.0, 3.0, 4.0]
    assert ema([None, 2.0, None, 4.0], 0.5) == [None, 2.0, 2.0, 3.0]


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    res = Result("x")
    res.add("a", 1.0, True)
    res.setup["s"] = 1.0
    assert {m["name"] for m in spec["end_to_end"]} <= set(contract_values(res))
    layers = layer_metrics(Tracer(None, False), res)
    assert {m["name"] for m in spec["per_layer"]} <= set(layers)


@pytest.fixture(scope="module")
def tiny_lake(spark, workspace):
    """Three days, one vessel, built by the history workload's own set-up:
    the first in bulk, the second through the write path, the third in the
    hot buffer."""
    from signalk_parquet_spark.sources.buffer import HotBuffer
    from signalk_parquet_spark.sources.lake import Lake

    fleet = Fleet(11, 1, 3, 300)
    stage = workspace.path("tiny")
    bulk, files = history.stage_inputs(fleet, f"{stage}/in")
    lake, buf = Lake(spark, f"{stage}/lake"), HotBuffer(spark, f"{stage}/hot")
    oracle = Oracle(fleet)
    oracle.add_days(range(3))
    res = Result("tiny")
    state = history.build_lake(spark, lake, buf, bulk, files, fleet, oracle, res,
                               Tracer(None, False))
    assert res.ops and not res.failed, [o.detail for o in res.failed]
    return fleet, lake, buf, oracle, state


@pytest.mark.parametrize("kind", history.CLASSES)
def test_every_request_class_agrees_with_the_oracle(tiny_lake, kind):
    from signalk_parquet_spark.plans.history import HistoryPlanner

    fleet, lake, buf, oracle, state = tiny_lake
    planner = HistoryPlanner(lake, buf, units_by_path=dict(UNITS))
    tracer = Tracer(None, False)
    rng = np.random.default_rng([11, history.CLASSES.index(kind)])
    req = None if kind == "discovery" else history.request(
        kind, fleet, rng, sorted(state.tiers["raw"]), 2)
    resp = history.serve(kind, req, planner, lambda: HistoryPlanner(
        lake, buf, units_by_path=dict(UNITS)), tracer)
    if req is not None:
        assert resp["data"], "an empty answer checks nothing"
    ok, detail = history.check(kind, req, resp, oracle, state, fleet.contexts)
    assert ok, detail


def test_oracle_catches_a_wrong_answer(tiny_lake):
    from signalk_parquet_spark.plans.history import HistoryPlanner

    fleet, lake, buf, oracle, state = tiny_lake
    planner = HistoryPlanner(lake, buf, units_by_path=dict(UNITS))
    req = history.request("align", fleet, np.random.default_rng(1), sorted(state.tiers["raw"]), 2)
    resp = history.serve("align", req, planner, None, Tracer(None, False))
    resp["data"][0][1] = (resp["data"][0][1] or 0.0) + 1e-6
    ok, _ = oracle.check(req, resp, state)
    assert not ok


def test_lifecycle_day_agrees_with_the_oracle(spark, workspace):
    """One tiny simulated day through deltas -> buffer -> export ->
    rollup_incremental -> retention, checked by the lifecycle workload's
    own verifier."""
    from perfbench import lifecycle
    from signalk_parquet_spark.sources.buffer import HotBuffer
    from signalk_parquet_spark.sources.lake import Lake

    fleet = Fleet(12, 1, 1, 900)
    base = workspace.path("tiny-lifecycle")
    files = lifecycle.write_deltas(fleet, f"{base}/deltas")
    lake, buf = Lake(spark, f"{base}/lake"), HotBuffer(spark, f"{base}/hot")
    oracle = Oracle(fleet)
    oracle.add_days([0])
    res = Result("tiny")
    write = lifecycle.WritePath(spark, lake, buf, fleet, oracle, res, Tracer(None, False))
    write.append(files[0])
    write.close_day(0)
    assert [o.kind for o in res.ops] == ["append"] * lifecycle.BATCHES + [
        "export", "rollup", "retention"]
    assert not res.failed, [o.detail for o in res.failed]
    assert lake.read(tier="raw").count() == lifecycle.day_rows(fleet, 0)
