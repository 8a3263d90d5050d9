"""Session factory settings that do not need a running JVM."""

from opentelemetry_collector_spark.session import default_driver_memory


def _meminfo(tmp_path, text):
    p = tmp_path / "meminfo"
    p.write_text(text)
    return str(p)


def test_driver_heap_is_half_of_memtotal(tmp_path):
    path = _meminfo(
        tmp_path,
        "MemTotal:       16000000 kB\nMemFree:         9000000 kB\n",
    )
    assert default_driver_memory(path) == "7812m"


def test_driver_heap_has_a_floor(tmp_path):
    path = _meminfo(tmp_path, "MemTotal:         524288 kB\n")
    assert default_driver_memory(path) == "512m"


def test_driver_heap_falls_back_without_meminfo(tmp_path):
    assert default_driver_memory(str(tmp_path / "missing")) == "4g"
    assert default_driver_memory(_meminfo(tmp_path, "MemFree: 1 kB\n")) == "4g"
