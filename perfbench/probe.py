"""Measurement helpers: spans around the engine's public entry points, exact
Spark job/stage/task counts per operation, and process-tree RSS and CPU.

Nothing here edits engine code.  :class:`Tracer` swaps wrappers onto module
and class attributes for the duration of one traced operation and restores
the originals afterwards, so untraced operations run the engine untouched.
"""

from __future__ import annotations

import functools
import itertools
import os
import threading
import time

TICK = os.sysconf("SC_CLK_TCK")


def _engine_targets():
    """(owner, attribute, layer) for every entry point a batch or a read
    reaches."""
    from sparkroach.chain import query, transforms
    from sparkroach.chain.ingest import ChainDB
    from sparkroach.chain.store import ChainStore

    out = [(ChainDB, "add_blocks", "chain.ingest")]
    out += [
        (ChainStore, n, "chain.store")
        for n in ("append_facts", "merge_state", "merge_metastate", "read")
    ]
    out += [
        (transforms, n, "chain.transforms")
        for n in (
            "block_headers", "flatten_txns", "txns", "participation",
            "sigtype_delta_rows", "account_updates", "asset_updates",
            "account_asset_updates", "app_updates", "account_app_updates",
            "box_updates",
        )
    ]
    out += [
        (getattr(query, c), "compile", "chain.query")
        for c in (
            "TransactionFilter", "AccountQueryOptions", "AssetBalanceQuery",
            "ApplicationBoxQuery", "GetBlockOptions",
        )
    ]
    return out


class Tracer:
    """In-memory spans (name, layer, start, end, parent, op).  A span opened
    on a thread with no open span of its own (the ingest fan-out pool)
    takes as parent the innermost open span of the op's first thread."""

    def __init__(self):
        self.spans: list[dict] = []
        self.op: str | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._root: int | None = None
        self._main: list[int] | None = None
        self._saved: list[tuple[object, str, object]] = []
        self._targets = _engine_targets()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _wrap(self, fn, layer: str, label: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = tracer._stack()
            if stack:
                parent = stack[-1]
            elif tracer._main:
                parent = tracer._main[-1]
            else:
                parent = tracer._root
            name = label
            if layer == "chain.store" and len(args) > 1 and isinstance(args[1], str):
                name = f"{label}:{args[1]}"  # ChainStore.<method>(self, table, ...)
            # the op is taken at entry: a span may end after its op closed,
            # as ChainDB.add_blocks does once next_round() has advanced
            sid, op = next(tracer._ids), tracer.op
            stack.append(sid)
            if tracer._main is None:
                tracer._main = stack
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                stack.pop()
                tracer.spans.append(dict(id=sid, name=name, layer=layer, start=t0,
                                         end=t1, parent=parent, op=op))

        return traced

    def begin(self, op: str, kind: str) -> None:
        """Open the root span of one operation and install the wrappers."""
        self.op = op
        self._root = next(self._ids)
        self._main = None
        self._root_start = time.perf_counter()
        self._kind = kind
        for owner, attr, layer in self._targets:
            fn = owner.__dict__.get(attr)
            if fn is None:
                continue
            self._saved.append((owner, attr, fn))
            label = f"{getattr(owner, '__name__', '')}.{attr}"
            setattr(owner, attr, self._wrap(fn, layer, label))

    def end(self) -> None:
        for owner, attr, fn in reversed(self._saved):
            setattr(owner, attr, fn)
        self._saved.clear()
        self.spans.append(dict(id=self._root, name=self._kind, layer="bench",
                               start=self._root_start, end=time.perf_counter(),
                               parent=None, op=self.op))
        self.op = None

    def op_spans(self, op: str) -> list[dict]:
        return [s for s in self.spans if s["op"] == op]


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per-layer self time (seconds) of one op's spans: each span's duration
    minus the part of it its children cover.  Concurrent spans of one layer
    add up, so this is busy time, which can exceed wall time."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        ivs = sorted(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in kids.get(s["id"], [])
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"] - covered)
    return out


class SparkCounters:
    """Exact job, stage and task counts, shuffle bytes and JVM GC time for a
    window of work, read from the SparkContext's status store (live with the
    UI disabled) and the JVM's garbage-collector beans."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._jvm = spark.sparkContext._jvm
        self._store = self._sc.statusStore()
        self._next = 0
        self._skip()

    def _flush(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def _job(self, job_id: int):
        from py4j.protocol import Py4JJavaError

        try:
            return self._store.job(job_id)
        except Py4JJavaError:
            return None

    def _skip(self) -> None:
        self._flush()
        while self._job(self._next) is not None:
            self._next += 1

    def begin(self) -> None:
        self._skip()
        self._gc0 = self.gc_ms()

    def end(self) -> dict:
        """Counts for every job submitted since :meth:`begin`."""
        self._flush()
        jobs = stages = tasks = shuffle = 0
        seen: set[int] = set()
        while (j := self._job(self._next)) is not None:
            self._next += 1
            jobs += 1
            stages += j.numCompletedStages()
            tasks += j.numTasks() - j.numSkippedTasks()
            it = j.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                if sid in seen:
                    continue
                seen.add(sid)
                st = self._store.lastStageAttempt(sid)
                if st.status().toString() == "COMPLETE":
                    shuffle += st.shuffleWriteBytes()
        return dict(jobs=jobs, stages=stages, tasks=tasks, shuffle_bytes=shuffle,
                    gc_ms=self.gc_ms() - self._gc0)

    def gc_ms(self) -> int:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans)


def _proc_tree(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        tree += frontier
    return tree


def tree_rss_bytes(root: int) -> int:
    """Resident memory of the process tree as proportional set size, so
    pages the forked Python workers share are counted once."""
    total = 0
    for p in _proc_tree(root):
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


def tree_sys_cpu_s(root: int) -> float:
    """System CPU seconds of the process tree, reaped children included."""
    ticks = 0
    for p in _proc_tree(root):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += int(fields[12]) + int(fields[14])  # stime, cstime
    return ticks / TICK


class RssSampler:
    """Background thread keeping the peak RSS of this process tree."""

    def __init__(self, period_s: float = 1.0):
        self.peak = 0
        self._period = period_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            if self._stop.wait(self._period):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
