"""Host-derived session defaults: pure Python, and the heap flags the
test session's driver JVM was started with."""

import os

from cflog2otel_spark.session import _xms_for, default_driver_memory, default_shuffle_partitions

GIB = 2**30


def test_driver_memory_is_a_quarter_of_the_host_capped():
    assert default_driver_memory(15 * GIB) == "3g"
    assert default_driver_memory(64 * GIB) == "8g"
    assert default_driver_memory(128 * GIB) == "8g"
    assert default_driver_memory(2 * GIB) == "1g"
    # no initial-heap preset: the heap grows from the JVM's own size
    assert _xms_for(default_driver_memory(15 * GIB)) == ""


def test_shuffle_partitions_follow_the_master():
    assert default_shuffle_partitions("local[4]", cpus=16) == 4
    assert default_shuffle_partitions("local[*]", cpus=16) == 16
    assert default_shuffle_partitions("local", cpus=6) == 6
    assert default_shuffle_partitions("spark://host:7077", cpus=6) == 6


def test_driver_jvm_has_no_initial_heap_preset(spark):
    """get_spark adds no -Xms of its own: the driver JVM's -Xms flags are
    exactly those SPARK_DRIVER_JAVA_OPTS names (none when it is unset)."""
    jvm = spark.sparkContext._jvm
    args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
    given = os.environ.get("SPARK_DRIVER_JAVA_OPTS", "").split()
    assert [a for a in args if a.startswith("-Xms")] == [a for a in given if a.startswith("-Xms")]
    assert any(a.startswith("-Xmx") for a in args), args
