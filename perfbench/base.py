"""What every workload shares: the process environment, the Spark session,
the sentinel, operation accounting and teardown."""

from __future__ import annotations

import gc
import os
import statistics
import sys
import time

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
RUN_DIR = os.path.join(WORK, f"run-{os.getpid()}")  # removed when the run ends
DRIVER_MEM = "1g"


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def median(xs, default=0.0):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else default


def files(path: str) -> dict[str, int]:
    """Size of every file under ``path``."""
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            p = os.path.join(d, n)
            out[p] = os.path.getsize(p)
    return out


def configure_env() -> None:
    """Keep the JVM, Spark's scratch space and Python temp files inside the
    run's directory, and size the driver heap for a small host."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(RUN_DIR, d), exist_ok=True)
    os.environ.pop("SPARKROACH_LAYOUT_CACHE", None)  # the layout build is measured
    os.environ["SPARKROACH_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(RUN_DIR, "spark-local")
    os.environ["TMPDIR"] = os.path.join(RUN_DIR, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(RUN_DIR, 'tmp')} -XX:-UsePerfData"
    )


class Workload:
    """One run of one workload.  Subclasses implement ``setup``,
    ``measure``, ``check``, ``end_to_end``, ``per_layer`` and ``trace_ops``,
    and count every operation in ``attempted`` and every failed one in
    ``failed`` with a line in ``problems``."""

    def __init__(self, args):
        self.args = args
        self.trace = bool(args.trace)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.sentinels: list[float] = []
        self.trace_bookkeeping_s = 0.0
        self.dir = RUN_DIR
        self.info: dict = {}

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.problems.append(msg[:500])

    def start_session(self) -> None:
        from sparkroach.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark(
            "perfbench", extra_conf={"spark.ui.showConsoleProgress": "false"}
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).collect()
        self.session_start_s = time.perf_counter() - t
        log(f"session started in {self.session_start_s:.2f}s")
        if self.trace:
            from probe import SparkCounters, Tracer

            self.tracer = Tracer()
            self.counters = SparkCounters(self.spark)

    def sentinel(self) -> None:
        """A fixed spark.range reduction: a reading of the host's momentary
        speed, independent of the engine's code."""
        from pyspark.sql import functions as F

        t = time.perf_counter()
        self.spark.range(100_000_000).select(F.sum(F.col("id") % 7)).collect()
        self.sentinels.append(time.perf_counter() - t)

    def settle(self) -> None:
        """Collect garbage in the driver and its JVM before a measured phase,
        so that a collection owed to earlier work does not land inside it."""
        gc.collect()
        self.spark._jvm.System.gc()

    def begin_op(self, op: str, kind: str) -> None:
        """Open a traced operation: spans and exact Spark counts."""
        t = time.perf_counter()
        self.counters.begin()
        self.tracer.begin(op, kind)
        self.trace_bookkeeping_s += time.perf_counter() - t

    def end_op(self) -> dict:
        t = time.perf_counter()
        self.tracer.end()
        counts = self.counters.end()
        self.trace_bookkeeping_s += time.perf_counter() - t
        return counts

    def common_per_layer(self, op_counts: list[dict], measured_s: float) -> dict:
        return {
            "session.start_s": self.session_start_s,
            "spark.gc_ms": median([c["gc_ms"] for c in op_counts]),
            "bench.sentinel_s": median(self.sentinels),
            "bench.sys_cpu_s": self.sys_cpu_s,
            "bench.trace_overhead_share": self.trace_bookkeeping_s / measured_s if measured_s else 0.0,
        }

    def stop(self) -> None:
        """Stop the session and wait for its JVM to exit."""
        from pyspark import SparkContext

        spark = getattr(self, "spark", None)
        if spark is None:
            return
        spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
