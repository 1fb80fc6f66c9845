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
    """The initial-heap flag for a driver whose -Xmx is `mem`: none. The
    JVM starts at its own initial size and G1 grows the heap toward -Xmx
    when its GC-time goal calls for it, so a per-object run's footprint
    follows its live set (~85-105 MiB after a full GC) instead of a
    preset 3/4 of -Xmx. On a 4-CPU/15 GiB host (-Xmx3g), dropping the old
    -Xms2g took `per_object` `peak_rss_mb` from a median 2188 MiB
    (2146-2214) to 1409 MiB (1056-1713), lower in 10 of 10 interleaved
    pairs, and `stream_stateful` from 2650 to 2019 MiB (10/10). The drain
    pays for it: 2-7 young GCs per drain instead of 0-1 while the heap
    grows, and +12% `cpu_s_per_op` (2.46 -> 2.76 s). The preset's one
    measurement was a 32-thread flagship on another host."""
    return ""


def get_spark(
    master: str | None = None,
    app_name: str = "cflog2otel_spark",
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """A local session sized from the host, setting only the confs below;
    `extra` confs are set last. The join, file-split and Arrow confs once
    set here stay at Spark's defaults: over the 57 registry queries at
    sf0.01 and sf0.1, none changes an AQE final plan (every join ends as a
    broadcast), `preferSortMergeJoin=false` changes 3 static plans but no
    timing outside noise, and the rest change no plan at all
    (plans/r11/engine_confs.json, from scripts/engine_conf_plans.py)."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or default_cpus())
    driver_mem = os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory()
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = default_shuffle_partitions(master, cpus)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # one shuffle partition per task slot, not Spark's 200 tiny tasks
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # CloudFront log times are UTC; so is every time the engine renders
        .config("spark.sql.session.timeZone", "UTC")
        # a batch or per-object run has nobody to look at a web UI
        .config("spark.ui.enabled", "false")
        # local mode: the driver heap IS the executor heap; sized from the
        # host unless SPARK_DRIVER_MEMORY says otherwise
        .config("spark.driver.memory", driver_mem)
        # no initial-heap preset (_xms_for): the heap grows from the
        # JVM's own initial size, as far as the live set asks
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
