"""Session defaults that need no running Spark session."""

from lean_explore_spark.session import DRIVER_MEM_CAP_MB, default_driver_memory


def test_default_driver_memory_is_half_the_host_capped(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       15728640 kB\nMemFree:        1024 kB\n")
    assert default_driver_memory(str(meminfo)) == "7680m"  # 15 GiB host
    meminfo.write_text("MemTotal:       134217728 kB\n")  # 128 GiB host
    assert default_driver_memory(str(meminfo)) == f"{DRIVER_MEM_CAP_MB}m"
    meminfo.write_text("MemTotal:       1048576 kB\n")  # 1 GiB host
    assert default_driver_memory(str(meminfo)) == "1024m"
    assert default_driver_memory(str(tmp_path / "absent")) == f"{DRIVER_MEM_CAP_MB}m"
