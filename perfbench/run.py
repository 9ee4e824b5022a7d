#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload extensions_sf0.1 --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds the fixtures and oracle caches under
``.bench_build/`` on first use, runs one workload, checks every timed
result against DuckDB and prints, as the last line of stdout, one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). A traced run also writes its spans, statements and
counters to ``.bench_build/traces/``. Workloads and metrics are described
in ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import fcntl
import json
import os
import platform
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REQUIRED = ("minimised_impala_spark/__init__.py", "tests/oracle.py")
RUN_LIMIT_S = 170


def main() -> int:
    t_main = time.perf_counter()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing: {missing}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import batch
    import common
    import fixture
    import served

    if args.workload not in (*batch.WORKLOADS, served.WORKLOAD):
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    build_dir = os.path.join(ROOT, ".bench_build")
    run_dir = os.path.join(build_dir, f"run-{os.getpid()}")
    os.makedirs(build_dir, exist_ok=True)
    with open(os.path.join(build_dir, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # one fixture build per checkout
        fixtures = fixture.ensure(build_dir)
    signal.signal(signal.SIGALRM, _timed_out)
    signal.alarm(RUN_LIMIT_S)  # a stuck run fails instead of hanging
    try:
        if args.workload in batch.WORKLOADS:
            res = batch.run(args.workload, args.seed, args.seconds, bool(args.trace),
                            fixtures, build_dir, run_dir)
            sf = batch.WORKLOADS[args.workload]["sf"]
        else:
            res = served.run(args.seed, args.seconds, bool(args.trace),
                             fixtures, build_dir, run_dir)
            sf = served.SF
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    import pyspark

    stmts = res["statements"]
    failed = [s for s in stmts if not s["ok"]]
    provenance = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": common.cpus(),
        "cores": common.cores(), "sf": sf,
        "data_seed": fixture.DATA_SEED, "spark": pyspark.__version__,
        "python": platform.python_version(), "passes": res["passes"],
        "samples": res["samples"], "attempted": len(stmts),
        "failures": [{k: s.get(k) for k in ("id", "error")} for s in failed][:10],
        "run_wall_s": round(time.perf_counter() - t_main, 3),
        "latencies": {s["id"]: round(s["latency"], 4) for s in stmts},
    }
    if args.trace:
        import probes

        trace_dir = os.path.join(build_dir, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({
                "provenance": provenance,
                "metrics": res["layers"],
                "self_time_s": {
                    side: probes.self_times([sp for sp in res["spans"] if sp.get("side", "client") == side])
                    for side in ("client", "server")
                },
                "statements": stmts,
                "event_log": res["events"],
                "spans": res["spans"],
            }, f, default=str)
        provenance["trace_file"] = os.path.relpath(path, ROOT)
    print(json.dumps({"provenance": provenance}))
    metrics = (
        {k: common.metric(v, unit) for k, (unit, v) in _layer_units(res["layers"]).items()}
        if args.trace else res["e2e"]
    )
    print(json.dumps({
        "correct": not failed,
        "attempted": len(stmts),
        "failed": len(failed),
        "metrics": metrics,
    }))
    return 0


def _timed_out(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")


def _layer_units(layers: dict[str, float]) -> dict[str, tuple[str, float]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    return {name: (units[name], layers[name]) for name in units}


if __name__ == "__main__":
    sys.exit(main())
