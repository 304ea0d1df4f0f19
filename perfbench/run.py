"""Benchmark of sparkroach: the chain engine (streamed ingest, then Indexer
reads of the store it built) and the analytic query registry.

Run from the repository root:

    python3 perfbench/run.py --workload ingest_mixed --seed 1 --seconds 4 --trace 0

One run is one process, one client, closed loop, on ``local[<cores>]``.
Each workload sets up, then measures a write phase and a query phase:

``ingest_mixed`` (``chain.py``)
    writes: streamed ingest batches into a chain store;
    queries: the seven Indexer read types against that store.
``analytic_queries`` (``analytic.py``)
    writes: the layout build of the query tables;
    queries: the registry's benched queries over them.

``--trace 0`` prints the end-to-end metrics, the same for every workload:
``setup_s``, ``peak_rss_mb``, ``write_s`` (the write phase's time),
``queries_total_s`` (one pass over the query set, from each query's median
latency) and ``write_amp`` (bytes the write phase put on disk per byte of its
input).  ``--trace 1`` prints the per-layer metrics instead; a metric of a
layer the workload does not reach reads 0.  The spans of a traced run go to
``.bench_work/traces/<workload>-seed<seed>.json``.

The last line of standard output is the result object; the line before it
records the run's settings (driver heap, cores), its workload-specific
figures and ``failed_share``.  Exit code 2 means the engine sources are not
present.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import analytic
import chain
from base import DRIVER_MEM, ROOT, T0, WORK, configure_env, log
from probe import RssSampler, tree_sys_cpu_s

WORKLOADS = {"ingest_mixed": chain.ChainRun, "analytic_queries": analytic.AnalyticRun}

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "write_s": "s",
    "queries_total_s": "s",
    "write_amp": "ratio",
}
COMMON_PER_LAYER = {
    "session.start_s": "s",
    "spark.gc_ms": "ms",
    "bench.sentinel_s": "s",
    "bench.sys_cpu_s": "s",
    "bench.trace_overhead_share": "ratio",
}


def per_layer_units() -> dict[str, str]:
    return {**chain.per_layer_units(), **analytic.per_layer_units(), **COMMON_PER_LAYER}


def write_trace(run) -> str:
    a = run.args
    path = os.path.join(WORK, "traces", f"{a.workload}-seed{a.seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    spans = [dict(s, start=s["start"] - T0, end=s["end"] - T0) for s in run.tracer.spans]
    with open(path, "w") as f:
        json.dump({"spans": spans, "ops": run.trace_ops()}, f)
    return path


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=4)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="minimal input sizes, for self-tests")
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "sparkroach", "chain", "ingest.py")):
        print(f"error: engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    configure_env()
    run = WORKLOADS[args.workload](args)
    try:
        with RssSampler() as rss:
            run.setup()
            setup_s = time.perf_counter() - T0
            cpu0 = tree_sys_cpu_s(os.getpid())
            run.measure()
            run.sys_cpu_s = tree_sys_cpu_s(os.getpid()) - cpu0
            run.check()
    finally:
        run.stop()
        shutil.rmtree(run.dir, ignore_errors=True)
    log("done")

    if args.trace:
        run.info["trace_file"] = os.path.relpath(write_trace(run), ROOT)
        values = run.per_layer()
        metrics = {k: {"value": values.get(k, 0), "unit": u}
                   for k, u in per_layer_units().items()}
    else:
        values = {"setup_s": setup_s, "peak_rss_mb": rss.peak / 2**20, **run.end_to_end()}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "driver_mem": DRIVER_MEM,
        "cores": len(os.sched_getaffinity(0)),
        "failed_share": run.failed / max(run.attempted, 1),
        "sentinel_s": run.sentinels,
        "problems": run.problems[:5],
        **run.info,
    }
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": not run.problems,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
