"""SparkSession builder with scale-aware defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    """CPUs this process may run on."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API on this platform
        return os.cpu_count() or 1


def default_driver_memory(phys_bytes: int | None = None) -> str:
    """Driver heap: a quarter of physical memory (of this host unless
    given), 1 to 8 GiB."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(8, phys_bytes // 2**30 // 4))}g"


def default_shuffle_partitions(master: str, cpus: int) -> int:
    """The N of `local[N]`; `cpus` for `local[*]` or a master without
    `[N]`."""
    n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "*"
    return cpus if n == "*" else int(n)


def _xms_for(mem: str) -> str:
    """-Xms at 3/4 of the -Xmx string (supports Ng/Nm); '' if unparseable."""
    try:
        unit = mem[-1].lower()
        if unit not in ("g", "m"):
            return ""
        n = int(mem[:-1])
        return f"-Xms{max(1, n * 3 // 4)}{unit}"
    except (ValueError, IndexError):
        return ""


def get_spark(
    master: str | None = None,
    app_name: str = "cflog2otel_spark",
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or default_cpus())
    driver_mem = os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory()
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = default_shuffle_partitions(master, cpus)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # prefer shuffled-hash over sort-merge when the planner's size
        # conditions hold, and let AQE rewrite SMJ->SHJ at runtime when
        # every post-shuffle partition is under 128m (guide §3.1): the
        # engine's joins are id/digest equi-joins whose sort adds nothing.
        # Both knobs are size-gated, so a partition that would not fit a
        # hash table still gets sort-merge. Measured: iterative CC
        # (docs_dedup_clusters) 4.6s -> 1.9s warm at sf0.1 (each label-prop
        # round drops two sorts); pack emit 2.4 -> 1.9.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "128m"
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bigger Arrow batches = fewer JVM<->Python crossings; measured 2.2x
        # on the token-decode UDF path (36.6s vs 79.7s per 2M rows)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .config("spark.sql.files.maxPartitionBytes", "256m")
        .config("spark.ui.enabled", "false")
        # local mode: the driver heap IS the executor heap; sized from the
        # host unless SPARK_DRIVER_MEMORY says otherwise
        .config("spark.driver.memory", driver_mem)
        # preset the heap: growing from the default -Xms under a 32-thread
        # allocation storm dominated the first full-scale run (measured on
        # the flagship: cold 113.5 s -> 67.0 s, warm 13.1 s -> 8.3 s with
        # -Xms14g). 3/4 of -Xmx, never above it.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_DRIVER_JAVA_OPTS", _xms_for(driver_mem)),
        )
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
