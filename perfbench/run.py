#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload history --seed 1 --seconds 20 --trace 0

Every line but the last is a human-readable report (host record, every
metric the workload defines with its unit, every operation's latency and
outcome, failures with their reason).
The last line is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` -- the end-to-end metrics of BENCHMARK.json, or with
``--trace 1`` its per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WORKLOADS = ("history", "lifecycle", "gates")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import signalk_parquet_spark  # noqa: F401
        import tools.spin_check  # noqa: F401

        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
    except (ImportError, OSError) as e:
        print(f"perfbench: the program under test is missing here: {e}", file=sys.stderr)
        return 2

    import importlib
    import signal

    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    from perfbench.common import Workspace, contract_line, host_record, stop_spark
    from perfbench.layers import layer_metrics
    from perfbench.trace import Tracer

    ws = Workspace(args.workload)
    ws.configure_env()
    tracer = Tracer(None, enabled=args.trace == 1)
    mod = importlib.import_module(f"perfbench.{args.workload}")
    t0 = time.perf_counter()
    try:
        res = mod.run(ws, args.seed, args.seconds, tracer)
        host = host_record(tracer.spark)
        wall = time.perf_counter() - t0
        layers = None
        if args.trace:
            tracer.uninstall()
            layers = layer_metrics(tracer, res)
            out = os.path.join(ROOT, ".perfbench_out",
                               f"trace-{args.workload}-seed{args.seed}.json")
            tracer.dump(out, {"workload": args.workload, "seed": args.seed,
                              "layers": layers, "host": host})
        print_report(args, res, host, wall, layers, tracer)
        print(contract_line(res, spec["end_to_end"], spec["per_layer"], layers,
                            bool(args.trace)), flush=True)
        return 0
    except Exception:  # noqa: BLE001 - report and exit non-zero without a result
        traceback.print_exc()
        return 1
    finally:
        try:
            tracer.uninstall()
            if tracer.spark is not None:
                stop_spark(tracer.spark)
        finally:
            ws.remove()


def print_report(args, res, host, wall, layers, tracer) -> None:
    from perfbench.common import contract_values, pct

    print(f"perfbench workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace}")
    print("host " + json.dumps(host))
    for k, v in res.setup.items():
        print(f"  setup.{k:<28} {v:12.4f} s")
    vals = contract_values(res)
    for name, unit in (("setup_s", "s"), ("op_gmean_ms", "ms"), ("ops_per_s", "1/s")):
        print(f"  {name:<34} {vals[name]:12.4f} {unit}")
    print(f"  {'op_p50_ms':<34} {pct([o.ms for o in res.timed], 50):12.4f} ms")
    print(f"  {'ops_failed_frac':<34} {len(res.failed) / max(1, len(res.ops)):12.4f} ratio"
          f"  ({len(res.failed)} of {len(res.ops)})")
    for name, (value, unit) in res.report.items():
        print(f"  {name:<34} {value:12.4f} {unit}")
    print(f"  {'op_ms_total':<34} {sum(o.ms for o in res.timed):12.4f} ms")
    print(f"  {'run_wall_s':<34} {wall:12.4f} s")
    if layers is not None:
        from perfbench.layers import DOC, absent

        print(f"  {'trace.bookkeeping_s':<34} {tracer.bookkeeping_s:12.4f} s")
        missing = absent(layers, args.workload)
        for name, value in layers.items():
            why = f"absent: {missing[name]}" if name in missing else DOC[name]
            print(f"  layer {name:<34} {value:14.4f}  {why}")
    for o in res.ops:
        kind = ("setup." if o.setup else "") + o.kind
        print(f"  op {kind:<31} {o.ms:12.4f} ms  {'ok' if o.ok else 'FAILED: ' + o.detail}")


if __name__ == "__main__":
    sys.exit(main())
