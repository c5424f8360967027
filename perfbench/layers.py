"""Per-layer metrics, computed from a traced run's spans and counters.

Every metric is computed for every workload. One that a workload never
exercises (no such call, no such plan) reads 0 and is listed in
:func:`absent` with the reason. Unless stated otherwise a metric is a
mean per timed operation; ``*_calls``-style write metrics are per call.
"""

from __future__ import annotations

from statistics import fmean

#: metric -> what it is averaged over, printed with the report
DOC = {
    "session.get_spark_ms": "one call of session.get_spark",
    "session.warm_pool_ms": "one call of session.warm_worker_pool",
    "sources.lake_read_ms": "per request: Lake.read time",
    "sources.lake_read_calls": "per request: Lake.read calls",
    "sources.buffer_read_ms": "per request: HotBuffer.read time",
    "sources.files_scanned": "per collected plan: scan numFiles",
    "sources.bytes_scanned": "per collected plan: scan filesSize",
    "sources.partitions_scanned": "per collected plan: scan numPartitions",
    "sources.listing_ms": "per collected plan: scan metadataTime + pruningTime",
    "sources.write_records_ms": "per call of Lake.write_records",
    "sources.write_rollup_ms": "per call of Lake.write_rollup",
    "sources.buffer_append_ms": "per call of HotBuffer.append",
    "sources.files_written": "parquet files written in the whole run",
    "sources.bytes_written_per_input_byte": "bytes written / generated input bytes",
    "driver.construct_ms": "per collected plan: building it in Python (get_values or gate fn)",
    "driver.probe_jobs": "per collected plan: Spark jobs run while building it",
    "driver.probe_ms": "per collected plan: wall of those jobs",
    "plans.get_values_ms": "per value request: HistoryPlanner.get_values",
    "plans.probe_jobs": "per value request: Spark jobs before the collect",
    "plans.probe_ms": "per value request: wall of those jobs",
    "plans.tier_raw_frac": "specs read from raw while a tier the lake holds serves them, of all specs",
    "catalyst.analysis_ms": "per collected plan: tracker phase",
    "catalyst.optimization_ms": "per collected plan: tracker phase",
    "catalyst.planning_ms": "per collected plan: tracker phase",
    "exec.jobs": "per operation: jobs in its job group",
    "exec.stages": "per operation: stages run (skipped excluded)",
    "exec.tasks": "per operation: tasks completed",
    "exec.collect_ms": "per operation: the result collect/toPandas",
    "exec.shuffle_bytes": "per collected plan: shuffleBytesWritten",
    "exec.spill_bytes": "per collected plan: spillSize",
    "exec.python_eval_ms": "per collected plan: pythonTotalTime",
    "exec.output_rows": "per collected plan: numOutputRows at the top",
    "operators.rollup_incremental_ms": "per call of rollup_incremental",
    "operators.touched_partitions": "per call of rollup_incremental",
    "operators.retention_ms": "per call of retention_cleanup",
    "api.shape_ms": "per value request: response wall - get_values - collect",
    "api.response_rows": "per value request: rows in data",
    "gates.construct_ms": "per gate: query function call",
    "gates.execute_ms": "per gate: toPandas",
}


def _mean(xs) -> float:
    xs = list(xs)
    return fmean(xs) if xs else 0.0


def _inside(spans, i: int, name: str) -> bool:
    """Is span ``i`` nested (at any depth) inside a span called ``name``?"""
    p = spans[i].parent
    while p is not None:
        if spans[p].name == name:
            return True
        p = spans[p].parent
    return False


def layer_metrics(tracer, res) -> dict[str, float]:
    spans = tracer.spans
    by_op: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        if s.op is not None:
            by_op.setdefault(s.op, []).append(i)
    ops = tracer.ops

    def op_sum(op: int, name: str, skip_nested: tuple[str, ...] = ()) -> float:
        return sum(spans[i].ms for i in by_op.get(op, ())
                   if spans[i].name == name
                   and not any(_inside(spans, i, n) for n in skip_nested))

    def op_count(op: int, name: str) -> int:
        return sum(1 for i in by_op.get(op, ()) if spans[i].name == name)

    def calls(name: str) -> list:
        return [s for s in spans if s.name == name]

    requests = [o.op for o in ops
                if op_count(o.op, "api.get_values_response") or op_count(o.op, "api.discovery_response")]
    values = [o.op for o in ops if op_count(o.op, "api.get_values_response")]
    planned = [o for o in ops if o.plans]

    out: dict[str, float] = {}
    first = lambda name: calls(name)[0].ms if calls(name) else 0.0  # noqa: E731
    out["session.get_spark_ms"] = first("session.get_spark")
    out["session.warm_pool_ms"] = first("session.warm_pool")

    out["sources.lake_read_ms"] = _mean(op_sum(o, "sources.lake_read") for o in requests)
    out["sources.lake_read_calls"] = _mean(op_count(o, "sources.lake_read") for o in requests)
    out["sources.buffer_read_ms"] = _mean(op_sum(o, "sources.buffer_read") for o in requests)
    for k in ("files_scanned", "bytes_scanned", "partitions_scanned", "listing_ms"):
        out[f"sources.{k}"] = _mean(o.plan.get(k, 0) for o in planned)
    for k, name in (("write_records_ms", "sources.write_records"),
                    ("write_rollup_ms", "sources.write_rollup"),
                    ("buffer_append_ms", "sources.buffer_append")):
        out[f"sources.{k}"] = _mean(s.ms for s in calls(name))
    written = [s.attrs for s in spans if "files_written" in s.attrs]
    out["sources.files_written"] = float(sum(a["files_written"] for a in written))
    out["sources.bytes_written_per_input_byte"] = (
        sum(a["bytes_written"] for a in written) / res.input_bytes if res.input_bytes else 0.0)

    def probes(op_ids, span_name: str) -> tuple[list[float], list[float], list[float]]:
        """Per op: construction wall, and the jobs submitted before it ended."""
        built, jobs, wall = [], [], []
        for o in ops:
            if o.op not in op_ids:
                continue
            sp = [spans[i] for i in by_op.get(o.op, ()) if spans[i].name == span_name]
            if not sp:
                continue
            end = max(s.end for s in sp)
            early = [(a, b) for a, b in o.job_spans if a < end]
            built.append(sum(s.ms for s in sp))
            jobs.append(len(early))
            wall.append(sum(b - a for a, b in early) * 1000.0)
        return built, jobs, wall

    built, jobs, wall = probes(set(values), "plans.get_values")
    out["plans.get_values_ms"] = _mean(built)
    out["plans.probe_jobs"] = _mean(jobs)
    out["plans.probe_ms"] = _mean(wall)
    gate_ops = {o.op for o in ops if op_count(o.op, "gates.construct")}
    gbuilt, gjobs, gwall = probes(gate_ops, "gates.construct")
    out["driver.construct_ms"] = _mean(built + gbuilt)
    out["driver.probe_jobs"] = _mean(jobs + gjobs)
    out["driver.probe_ms"] = _mean(wall + gwall)
    out["plans.tier_raw_frac"] = _tier_raw_frac(spans, by_op, values)

    for k in ("analysis", "optimization", "planning"):
        out[f"catalyst.{k}_ms"] = _mean(o.catalyst.get(k, 0.0) for o in planned)
    out["exec.jobs"] = _mean(o.jobs for o in ops)
    out["exec.stages"] = _mean(o.stages for o in ops)
    out["exec.tasks"] = _mean(o.tasks for o in ops)
    # the operation's result collect; collects while building a plan are probes
    building = ("plans.get_values", "gates.construct")
    out["exec.collect_ms"] = _mean(op_sum(o.op, "exec.collect", building) for o in ops)
    for k in ("shuffle_bytes", "spill_bytes", "python_eval_ms", "output_rows"):
        out[f"exec.{k}"] = _mean(o.plan.get(k, 0) for o in planned)

    inc = calls("operators.rollup_incremental")
    out["operators.rollup_incremental_ms"] = _mean(s.ms for s in inc)
    out["operators.touched_partitions"] = _mean(s.attrs.get("touched", 0) for s in inc)
    out["operators.retention_ms"] = _mean(s.ms for s in calls("operators.retention"))

    out["api.shape_ms"] = _mean(
        op_sum(o, "api.get_values_response") - op_sum(o, "plans.get_values")
        - op_sum(o, "exec.collect", ("plans.get_values",)) for o in values)
    out["api.response_rows"] = _mean(
        sum(spans[i].attrs.get("rows", 0) for i in by_op[o]
            if spans[i].name == "api.get_values_response") for o in values)
    out["gates.construct_ms"] = _mean(op_sum(o, "gates.construct") for o in gate_ops)
    out["gates.execute_ms"] = _mean(op_sum(o, "gates.execute") for o in gate_ops)
    return out


def _tier_raw_frac(spans, by_op, values) -> float:
    """Share of requested specs whose lake side was read from raw although
    a tier the lake holds serves them (the API's documented routing, in the
    span's ``tiers``). The last ``Lake.read`` of a spec's path inside
    ``get_values`` is the read that answered it."""
    n = raw = 0
    for o in values:
        idx = by_op[o]
        api = next(spans[i] for i in idx if spans[i].name == "api.get_values_response")
        last: dict[str, str] = {}
        for i in idx:
            s = spans[i]
            if s.name == "sources.lake_read" and _inside(spans, i, "plans.get_values") \
                    and "path" in s.attrs and "tier" in s.attrs:
                last[s.attrs["path"]] = s.attrs["tier"]
        for path, want in zip(api.attrs["paths"], api.attrs["tiers"]):
            n += 1
            raw += want != "raw" and last.get(path) == "raw"
    return raw / n if n else 0.0


def absent(values: dict[str, float], workload: str) -> dict[str, str]:
    """Metrics this workload does not exercise, with the reason."""
    why = {
        "gates": "the gate queries do not call this layer",
        "history": "the history workload makes no such call",
        "lifecycle": "the lifecycle workload makes no such call",
    }[workload]
    zero_ok = {"exec.spill_bytes", "plans.tier_raw_frac", "sources.listing_ms"}
    return {k: why for k, v in values.items() if v == 0 and k not in zero_ok}
