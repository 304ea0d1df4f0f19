"""SparkSession construction tuned for this engine.

Local tests run on ``local[N]`` but every setting here is chosen for the
1000-executor / 100 TB deployment and merely *also* works locally:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing);
- Arrow for any pandas/Python exchange (the only sanctioned Python path);
- shuffle partitions sized by env so the same code runs at any scale;
- broadcast threshold raised so dimension tables (region/nation/part at
  TPC-H shape; asset/app params at chain shape) broadcast instead of
  shuffling the fact side.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

#: upper bound on the default driver heap
MAX_DRIVER_HEAP_MB = 16 * 1024


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Driver heap for ``spark.driver.memory`` and ``-Xms``: half of the
    host's ``MemAvailable``, capped at 16g, so the committed and
    pre-touched heap always fits the machine.  ``SPARKROACH_DRIVER_MEM``
    overrides it.  Without a readable ``MemAvailable`` the cap applies."""
    override = os.environ.get("SPARKROACH_DRIVER_MEM")
    if override:
        return override
    mb = MAX_DRIVER_HEAP_MB
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    mb = min(mb, int(line.split()[1]) // 1024 // 2)
                    break
    except OSError:
        pass
    return f"{mb}m"


def get_spark(
    app_name: str = "sparkroach",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    driver_mem = default_driver_memory()
    extra_conf = dict(extra_conf or {})
    java_opts = f"-Xms{driver_mem} -XX:+AlwaysPreTouch"
    caller_opts = extra_conf.pop("spark.driver.extraJavaOptions", "")
    if caller_opts:
        java_opts = f"{java_opts} {caller_opts}"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # -- scale posture ------------------------------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Let the planner pick shuffled hash join when its size conditions
        # hold (no sort of either side), and let AQE rewrite a planned
        # sort-merge join to shuffled hash at runtime when every post-
        # shuffle partition is under 64 MB — bounded build sides, so the
        # SHJ OOM risk the default guards against cannot trigger.  Both
        # are size-conditioned, not local-tuned: oversized partitions
        # still get sort-merge at any scale.  Interleaved A/B over the
        # 14-query bench set: median 17.22 s → 16.80 s, 4/5 rounds.
        # Known risk (r8 ADVICE): the static preferSortMergeJoin=false
        # path decides from ESTIMATED sizes (sizeInBytes), which can be
        # far off after filters/UDFs, and an under-estimated build side
        # OOMs because SHJ's hash map does not spill.  It is kept because
        # (a) the static planner additionally requires the build side
        # under numShufflePartitions * autoBroadcastJoinThreshold AND 3x
        # smaller than the other side, (b) every estimate-opaque subtree
        # here (UDF/explode stages) feeds aggregations, not join builds,
        # and (c) the AQE threshold below re-checks RUNTIME map sizes for
        # the sort-merge plans AQE rewrites.  A deployment with wildly
        # filtered build sides should flip this back to true and keep
        # only the AQE (runtime-measured) path.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
        # -- python exchange ---------------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # -- determinism / correctness ------------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet stores ts as TIMESTAMP(NANOS); read as long and
        # convert in tables.load (Spark has no nanosecond timestamp type).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # ANSI off: testdata oracle (DuckDB) and reference semantics use
        # silent-null arithmetic edges; keep consistent.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.ui.enabled", os.environ.get("SPARKROACH_UI", "false"))
        .config("spark.driver.memory", driver_mem)
        # Commit + pre-touch the whole heap at JVM start (-Xms = -Xmx,
        # AlwaysPreTouch).  Root-caused in r9 (OPTIMIZATION_r09.md §JVM
        # heap pre-touch): on a freshly booted VM, first-touch page faults
        # on lazily-committed heap pages are served by the host and billed
        # to the faulting task as SYSTEM cpu — measured 118 s sys vs 8.7 s
        # user for one minhash run, a sporadic 10-25x per-stage stall that
        # hit whichever allocation-heavy stage touched new heap first.
        # Pre-touching moves that one-time cost to session startup (which
        # every consumer of this session treats as setup, never timed
        # work) and leaves steady-state execution fault-free.  Standard
        # JVM practice for latency-sensitive services; same flags apply
        # to executors in cluster deployments (set via
        # spark.executor.extraJavaOptions there).  A caller's own
        # extraJavaOptions are appended, not dropped.
        .config("spark.driver.extraJavaOptions", java_opts)
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
