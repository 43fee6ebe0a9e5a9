"""Session defaults that must be safe on any host size."""

from sorting_compressed_time_series_spark.session import default_driver_memory


def _meminfo(tmp_path, kb):
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {kb} kB\nMemFree:        1024 kB\n")
    return str(p)


def test_driver_memory_is_half_of_host_ram(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path, 15 * 1024 * 1024)) == "7680m"
    assert default_driver_memory(_meminfo(tmp_path, 2 * 1024 * 1024)) == "1024m"


def test_driver_memory_is_capped_at_48g(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path, 512 * 1024 * 1024)) == "49152m"


def test_driver_memory_falls_back_to_48g(tmp_path):
    assert default_driver_memory(str(tmp_path / "missing")) == "48g"
    bad = tmp_path / "meminfo"
    bad.write_text("MemFree: 1 kB\n")
    assert default_driver_memory(str(bad)) == "48g"
