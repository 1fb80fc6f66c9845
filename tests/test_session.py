"""Host-derived session defaults (pure Python, no JVM)."""

from cflog2otel_spark.session import _xms_for, default_driver_memory, default_shuffle_partitions

GIB = 2**30


def test_driver_memory_is_a_quarter_of_the_host_capped():
    assert default_driver_memory(15 * GIB) == "3g"
    assert default_driver_memory(64 * GIB) == "8g"
    assert default_driver_memory(128 * GIB) == "8g"
    assert default_driver_memory(2 * GIB) == "1g"
    assert _xms_for(default_driver_memory(15 * GIB)) == "-Xms2g"


def test_shuffle_partitions_follow_the_master():
    assert default_shuffle_partitions("local[4]", cpus=16) == 4
    assert default_shuffle_partitions("local[*]", cpus=16) == 16
    assert default_shuffle_partitions("local", cpus=6) == 6
    assert default_shuffle_partitions("spark://host:7077", cpus=6) == 6
