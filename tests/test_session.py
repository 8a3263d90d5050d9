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


_SHIP_TWICE = """
import os, sys, zipfile
from opentelemetry_collector_spark.session import ship_package

class _Context:
    def __init__(self, app_id):
        self.applicationId = app_id
    def addPyFile(self, path):
        names = zipfile.ZipFile(path).namelist()
        assert "opentelemetry_collector_spark/zipcache.py" in names, names
        print(path)

class _Session:
    def __init__(self, app_id):
        self.sparkContext = _Context(app_id)

ship_package(_Session("app-1"))
ship_package(_Session("app-2"))
"""


def test_shipped_zip_is_built_once_and_removed_at_exit(tmp_path):
    """The package zip is built once per process, shipped to each app,
    and deleted when the process exits: Spark reads it lazily, so it
    must outlive addPyFile, but it must not pile up in the temp dir."""
    import os
    import subprocess
    import sys

    import opentelemetry_collector_spark

    root = os.path.dirname(os.path.dirname(opentelemetry_collector_spark.__file__))
    env = {**os.environ, "TMPDIR": str(tmp_path), "PYTHONPATH": root}
    out = subprocess.run(
        [sys.executable, "-c", _SHIP_TWICE], env=env, capture_output=True, text=True
    )
    assert out.returncode == 0, out.stderr
    shipped = out.stdout.split()
    assert len(shipped) == 2 and shipped[0] == shipped[1]
    assert shipped[0].startswith(str(tmp_path) + os.sep)
    assert os.listdir(tmp_path) == []


def test_shipped_zip_carries_sources_only():
    """The zip holds the package's ``.py`` files and nothing else: no
    ``__pycache__`` bytecode, which zipimport never reads from an
    archive but every worker would fetch."""
    import zipfile

    from opentelemetry_collector_spark.session import _package_zip

    with zipfile.ZipFile(_package_zip()) as zf:
        files = [i.filename for i in zf.infolist() if not i.is_dir()]
    assert "opentelemetry_collector_spark/sources/wirebridge.py" in files, files
    assert all(f.endswith(".py") for f in files), [
        f for f in files if not f.endswith(".py")
    ]
