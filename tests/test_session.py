"""Engine session defaults that need no Spark session."""

from geomesa_sql_spark.session import default_driver_memory

GB = 1 << 30


def test_default_driver_memory_is_half_of_physical_capped():
    assert default_driver_memory(16 * GB) == "8192m"
    assert default_driver_memory(15 * GB + 512 * (1 << 20)) == "7936m"
    assert default_driver_memory(64 * GB) == "24576m"  # the 24g cap
    assert default_driver_memory(1 * GB) == "1024m"  # the 1g floor
    m = default_driver_memory()  # this host's sysconf
    assert m.endswith("m") and 1024 <= int(m[:-1]) <= 24576
