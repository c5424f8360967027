"""``gates``: registered gate queries over seeded tables, in registration
order, each checked against its DuckDB oracle.

Set-up writes the ten tables of :func:`.gen.gate_tables`, then runs
bench.py's untimed warmup (table loads and ``warm_worker_pool``). The timed
part runs the fixed list :data:`GATES` one at a time, timing construction
and ``toPandas`` separately from outside. The oracle comparison (the canonical
sorted-frame exact compare of ``tools/driver_sim.py``) runs untimed after
each gate.
"""

from __future__ import annotations

import time

from .common import Result, pct, timed
from .gen import write_gate_tables

#: the timed gates, in registration order: 20 of 175, spread over the
#: families (dedup, sketches, similarity, time series, spatial, TPC-H, text,
#: WARC). A fixed list, so that a change to the registry's order or to the
#: set of gates does not change what is timed.
GATES = (
    "dedup_containment", "dedup_keep_corpus", "heavy_hitters_2pass", "angular_avg",
    "sma_1h_w5", "tpch_q5", "minhash_estimate_error", "ann_lsh_bucketed",
    "asof_last_purchase", "daily_activity", "pack_sequences", "dsir_weights",
    "tpch_q15", "spatial_radius", "bucket_median_1h", "tpch_q7", "text_top_tokens",
    "decontaminate_ngram", "warc_dom_extract", "scrub_duplicate_spans",
)
#: tables bench.py warms before timing
WARM_TABLES = ("lineitem", "orders", "events", "documents", "embeddings")


def run(ws, seed: int, seconds: float, tracer) -> Result:
    import duckdb

    from signalk_parquet_spark import registry
    from tools.driver_sim import TABLES

    from .common import start_session

    queries, oracles = registry.queries(), registry.oracle_sql()
    names = list(GATES)
    missing = [n for n in names if n not in queries or n not in oracles]
    if missing:
        raise RuntimeError(f"gates not registered or without an oracle: {missing}")

    res = Result("gates")
    sf = ws.path("tables")
    rows, gen_s = timed(write_gate_tables, seed, sf)
    res.report["generate_s"] = (gen_s, "s")
    res.input_bytes = sum((ws.base / "tables" / f"{t}.parquet").stat().st_size for t in rows)

    spark = start_session(tracer, res, "perfbench-gates")
    tracer.install()

    def warm_tables() -> None:
        for table in WARM_TABLES:
            registry.load(spark, sf, table)

    with tracer.span("registry.load"):
        _, res.setup["table_loads"] = timed(warm_tables)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    construct, execute = [], []
    deadline = time.perf_counter() + seconds
    # one pass over GATES is the unit of work; further passes only
    # while another whole pass still fits the measuring time
    last_pass = 0.0
    while True:
        t_pass = time.perf_counter()
        if last_pass and t_pass + last_pass > deadline:
            break
        for name in names:
            t0 = time.perf_counter()
            try:
                with tracer.op(name):
                    with tracer.span("gates.construct"):
                        df = queries[name](spark, sf)
                    t1 = time.perf_counter()
                    tracer.capture(df)
                    with tracer.span("gates.execute"):
                        got = df.toPandas()
                error = ""
            except Exception as e:  # noqa: BLE001 - a failed gate is a result
                error = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
            t2 = time.perf_counter()
            if error:
                res.add(name, (t2 - t0) * 1000.0, False, error)
                continue
            construct.append((t1 - t0) * 1000.0)
            execute.append((t2 - t1) * 1000.0)
            ok, detail = compare(got, oracles[name], con)
            res.add(name, (t2 - t0) * 1000.0, ok, detail)
        last_pass = time.perf_counter() - t_pass

    gate_ms = [o.ms for o in res.ops]
    passes = len(res.ops) // len(names)
    res.report["gates_total_s"] = (sum(gate_ms) / 1000.0 / passes, "s")
    res.report["gate_p50_ms"] = (pct(gate_ms, 50), "ms")
    res.report["gates"] = (len(names), "count")
    res.report["passes"] = (passes, "count")
    res.report["construct_p50_ms"] = (pct(construct, 50), "ms")
    res.report["execute_p50_ms"] = (pct(execute, 50), "ms")
    return res


def compare(got, sql: str, con) -> tuple[bool, str]:
    """``tools/driver_sim.py``'s check: both sides canonically sorted, then
    equal row counts, equal columns and exactly equal values."""
    import pandas as pd

    from tools.driver_sim import canon

    want, have = canon(con.execute(sql).fetchdf()), canon(got)
    if len(have) != len(want):
        return False, f"oracle mismatch: rows {len(have)} != {len(want)}"
    if list(have.columns) != list(want.columns):
        return False, f"oracle mismatch: cols {list(have.columns)} != {list(want.columns)}"
    try:
        pd.testing.assert_frame_equal(have, want, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return False, "oracle mismatch: " + str(e).splitlines()[0][:300]
    return True, ""
