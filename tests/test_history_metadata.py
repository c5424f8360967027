"""History planning is metadata-only: tiers, discovery, object components
and read schemas come from directory listings, Parquet footers and the
lake's schema catalog. Job counts are pinned through job groups and the
status tracker, so the pins do not depend on the host. A long-lived planner
must stay right while the lake changes under it."""

from __future__ import annotations

import itertools
import json
import shutil
from datetime import timedelta

import pytest

from signalk_parquet_spark.api import discovery_response
from signalk_parquet_spark.operators.rollup import rollup_scalar
from signalk_parquet_spark.plans.history import HistoryPlanner
from signalk_parquet_spark.plans.timerange import resolve_time_range
from signalk_parquet_spark.sources import lake as lake_mod
from signalk_parquet_spark.sources.buffer import HotBuffer
from signalk_parquet_spark.sources.lake import Lake
from tests.records import T0, make_record, records_df, scalar_series

SPEED = "navigation.speedOverGround"
DEPTH = "environment.depth.belowTransducer"
POS = "navigation.position"
FROM, TO = "2024-06-01T12:00:00Z", "2024-06-01T12:10:00Z"
BBOX = (47.5, 47.50295, 8.6, 8.8)  # (south, north, west, east): the first 5 minutes
_groups = itertools.count()


def jobs_run(spark, fn):
    """(fn(), the number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    group = f"history-metadata-{next(_groups)}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def positions(start, n, step_s=10, **extra):
    return [
        make_record(start + timedelta(seconds=i * step_s), POS,
                    {"latitude": 47.5 + i * 0.0001, "longitude": 8.7, **extra})
        for i in range(n)
    ]


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    """Raw speed, depth and position (position in its own batch, so its
    value_* columns live only in its own subtree), a 60s tier for speed, and
    a hot buffer holding one later speed sample."""
    base = tmp_path_factory.mktemp("metadata")
    root = str(base / "lake")
    lake = Lake(spark, root)
    rows = scalar_series(T0, [float(i) for i in range(60)], step_s=10)
    rows += scalar_series(T0, [5.0 + i for i in range(60)], path=DEPTH, step_s=10)
    lake.write_records(records_df(spark, rows), tier="raw")
    lake.write_records(records_df(spark, positions(T0, 60)), tier="raw")
    lake.write_rollup(rollup_scalar(lake.read(tier="raw", path=SPEED), "60s"), "60s")
    buffer = HotBuffer(spark, str(base / "hot"))
    buffer.append(records_df(spark, scalar_series(T0 + timedelta(minutes=2), [99.0])))
    return root, buffer


def _request(planner):
    return planner.get_values(f"{SPEED},{DEPTH},{POS}", FROM, TO, resolution_s=60, bbox=BBOX)


def test_fresh_lake_pays_one_merge_job_per_unseen_subtree(spark, served):
    root, buffer = served
    lake = Lake(spark, root)
    planner = HistoryPlanner(lake, HotBuffer(spark, buffer.staging_dir))
    # The request touches 5 subtrees new to this Lake and buffer, and merges
    # each schema once: raw speed, depth and position (each spec's component
    # check; position's pre-pass and series and depth's series read them
    # too), speed's 60s tier (the 60s tier has no depth subtree, so depth
    # falls through to raw) and the buffer.
    _, cold_jobs = jobs_run(spark, lambda: _request(planner))
    assert cold_jobs == 5
    _, warm_jobs = jobs_run(spark, lambda: _request(planner))
    assert warm_jobs == 0
    # a path scope still shows only its own subtree's columns
    assert "value_latitude" in lake.read(tier="raw", path=POS).columns
    assert "value_latitude" not in lake.read(tier="raw", path=SPEED).columns


def test_foreign_file_is_merged_like_any_other(spark, tmp_path):
    """A file another writer made (pyarrow, no Spark schema in its footer)
    joins its subtree's schema and rows: each Lake that has not seen the
    subtree pays exactly one merge job for it, and none after."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path / "lake"
    Lake(spark, str(root)).write_records(records_df(spark, scalar_series(T0, [1.0, 2.0])), "raw")
    day_dir = next(root.glob("tier=raw/context=*/path=*/year=*/day=*"))
    ts = pa.array([T0 + timedelta(seconds=5)], pa.timestamp("us", "UTC"))
    pq.write_table(pa.table({"signalk_timestamp": ts, "value": [3.0]}), day_dir / "foreign.parquet")
    for _ in range(2):  # two fresh Lakes: one merge each
        lake = Lake(spark, str(root))
        df, first = jobs_run(spark, lambda: lake.read(tier="raw", path=SPEED))
        _, again = jobs_run(spark, lambda: lake.read(tier="raw", path=SPEED))
        assert (first, again) == (1, 0)
    assert sorted(r["value"] for r in df.collect()) == [1.0, 2.0, 3.0]


def test_scalar_path_components_read_no_footer(spark, served, monkeypatch):
    """A scalar path's catalog schema has no value_* column, so its
    component check reads no footer; an object path's footers are read once
    per subtree listing and day range, then answered from the catalog."""
    root, _ = served
    lake = Lake(spark, root)
    read = []
    real = lake_mod._footer_nonnull_columns
    monkeypatch.setattr(lake_mod, "_footer_nonnull_columns", lambda f: read.append(f) or real(f))
    planner = HistoryPlanner(lake)
    rng = resolve_time_range(FROM, TO, None)
    assert planner._object_components(SPEED, None, rng) == []
    assert read == []
    for _ in range(2):
        comps = planner._object_components(POS, None, rng)
        assert comps == ["value_latitude", "value_longitude"]
        assert len(read) == 1


def test_warm_get_values_runs_no_job_before_collect(spark, served):
    root, buffer = served
    planner = HistoryPlanner(Lake(spark, root), buffer)
    _request(planner)  # fills the catalogs
    df, jobs = jobs_run(spark, lambda: _request(planner))
    assert jobs == 0
    rows = df.collect()
    assert [r["bucket_ts"] for r in rows] == [f"2024-06-01T12:0{m}:00Z" for m in range(10)]
    # inside the bbox the buffer wins its bucket and the 60s tier answers
    # the rest; outside it only the position series has values
    assert [r[SPEED] for r in rows] == [2.5, 8.5, 99.0, 20.5, 26.5] + [None] * 5
    assert [json.loads(r[POS])["longitude"] for r in rows] == pytest.approx([8.7] * 10)


def test_discovery_runs_no_job(spark, served):
    root, _ = served
    planner = HistoryPlanner(Lake(spark, root))
    out, jobs = jobs_run(spark, lambda: discovery_response(planner))
    assert jobs == 0
    assert out == {"contexts": ["vessels.test:self"], "paths": sorted([DEPTH, POS, SPEED])}


def test_long_lived_planner_follows_the_lake(spark, tmp_path):
    """One planner serves a request, then the lake gains a rollup tier, a
    new object component and a file written by a second Lake instance.
    The next requests must route to the tier, include the component, and
    see the new file's column and rows."""
    root = str(tmp_path / "lake")
    lake = Lake(spark, root)
    # speed is written without source_label, so the first read's schema lacks it
    lake.write_records(
        records_df(spark, scalar_series(T0, [1.0, 2.0, 3.0], step_s=60)).drop("source_label"),
        tier="raw",
    )
    lake.write_records(records_df(spark, positions(T0, 3)), tier="raw")
    planner = HistoryPlanner(lake)
    first = planner.get_values(f"{SPEED},{POS}", FROM, TO, resolution_s=3600)
    assert len(first.collect()) == 1

    lake.write_rollup(rollup_scalar(lake.read(tier="raw", path=SPEED), "1h"), "1h")
    lake.write_records(
        records_df(spark, positions(T0 + timedelta(minutes=5), 1, altitude=12.0)), tier="raw"
    )
    Lake(spark, root).write_records(
        records_df(spark, scalar_series(T0 + timedelta(minutes=5), [9.0], source_label="late")),
        tier="raw",
    )

    tiered = planner.get_values(SPEED, FROM, TO, resolution_s=3600)
    assert any("tier=1h" in f for f in tiered.inputFiles())
    assert tiered.collect()[0][SPEED] == 2.0
    pos = json.loads(planner.get_values(POS, FROM, TO, resolution_s=3600).collect()[0][POS])
    assert pos["altitude"] == 12.0
    late = planner.get_values(f"{SPEED}|late", FROM, TO, resolution_s=3600).collect()
    assert [r[SPEED] for r in late] == [9.0]


def test_object_path_in_a_range_only_the_buffer_holds(spark, tmp_path):
    """With no raw files on the request's days, the newest raw day names the
    components, so a range only the buffer holds still rebuilds the object."""
    lake = Lake(spark, str(tmp_path / "lake"))
    lake.write_records(records_df(spark, positions(T0, 2)), "raw")
    buffer = HotBuffer(spark, str(tmp_path / "hot"))
    buffer.append(records_df(spark, positions(T0 + timedelta(days=1), 2)))
    df = HistoryPlanner(lake, buffer).get_values(
        POS, "2024-06-02T12:00:00Z", "2024-06-02T12:10:00Z", resolution_s=600
    )
    assert json.loads(df.collect()[0][POS]) == pytest.approx({"latitude": 47.50005, "longitude": 8.7})


def test_maintenance_dir_created_after_first_read_is_excluded(spark, tmp_path):
    lake = Lake(spark, str(tmp_path / "lake"))
    lake.write_records(records_df(spark, scalar_series(T0, [1.0, 2.0])), tier="raw")
    assert lake.read(tier="raw").count() == 2
    day_dir = next((tmp_path / "lake").glob("tier=raw/context=*/path=*/year=*/day=*"))
    (day_dir / "quarantine").mkdir()
    for f in day_dir.glob("*.parquet"):
        shutil.copy(f, day_dir / "quarantine" / f.name)
    assert lake.read(tier="raw").count() == 2


def test_object_store_roots_list_through_hadoop(spark, served, monkeypatch):
    """Roots that are not local paths are listed with the Hadoop FileSystem
    API and their footers counted by Spark; treating the local lake as such a
    root must give the same answers."""
    root, _ = served
    local = Lake(spark, root)
    want = (
        local.tiers(),
        local.discover_paths(),
        local.nonnull_columns("raw", None, POS, T0, T0 + timedelta(hours=1)),
        sorted(local.read(tier="raw", path=POS).collect()),
    )
    monkeypatch.setattr(lake_mod, "_local_dir", lambda root: None)
    remote = Lake(spark, root)
    got = (
        remote.tiers(),
        remote.discover_paths(),
        remote.nonnull_columns("raw", None, POS, T0, T0 + timedelta(hours=1)),
        sorted(remote.read(tier="raw", path=POS).collect()),
    )
    assert got == want
    assert {"value_latitude", "value_longitude"} <= want[2]
