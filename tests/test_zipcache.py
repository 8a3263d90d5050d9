"""Stat-checked zip import caches: an unchanged archive is not re-read,
a changed one is, and only Spark's Python workers are patched."""

import importlib.util
import os
import zipfile
import zipimport

import pytest

from opentelemetry_collector_spark import zipcache

STDLIB = "zipimport"
PATCHED = "opentelemetry_collector_spark.zipcache"


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture()
def reads(monkeypatch):
    """Archive paths whose central directory zipimport parses."""
    seen = []
    real = zipimport._read_directory

    def spy(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    return seen


def _load(importer, name):
    spec = importer.find_spec(name)
    assert spec is not None, f"{name} not importable from {importer.archive}"
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_unchanged_archive_is_read_once(tmp_path, reads):
    archive = str(tmp_path / "pkg.zip")
    _write_zip(archive, {"mod_a": "X = 1\n"})
    importer = zipimport.zipimporter(archive)
    reads.clear()
    zipcache.invalidate_if_changed(importer)  # first sight: read
    assert reads == [archive]
    zipcache.invalidate_if_changed(importer)
    zipcache.invalidate_if_changed(zipimport.zipimporter(archive))
    assert reads == [archive]  # unchanged: nothing re-read
    assert _load(importer, "mod_a").X == 1


def test_rewritten_archive_is_reread(tmp_path, reads):
    archive = str(tmp_path / "pkg.zip")
    _write_zip(archive, {"mod_a": "X = 1\n"})
    importer = zipimport.zipimporter(archive)
    sibling = zipimport.zipimporter(archive)  # another package dir's importer
    zipcache.invalidate_if_changed(importer)
    reads.clear()

    mtime_ns = os.stat(archive).st_mtime_ns
    _write_zip(archive, {"mod_a": "X = 1\n", "mod_b": "Y = 2\n"})
    os.utime(archive, ns=(mtime_ns + 10**9, mtime_ns + 10**9))
    assert importer.find_spec("mod_b") is None  # still the cached directory

    zipcache.invalidate_if_changed(importer)
    assert reads == [archive]
    assert _load(importer, "mod_b").Y == 2
    # the sibling picks up that read instead of parsing the archive again
    zipcache.invalidate_if_changed(sibling)
    assert reads == [archive]
    assert _load(sibling, "mod_b").Y == 2


def test_removed_archive_empties_the_importer(tmp_path, reads):
    archive = str(tmp_path / "pkg.zip")
    _write_zip(archive, {"mod_a": "X = 1\n"})
    importer = zipimport.zipimporter(archive)
    zipcache.invalidate_if_changed(importer)
    os.remove(archive)
    zipcache.invalidate_if_changed(importer)
    assert importer.find_spec("mod_a") is None


def test_driver_is_not_patched():
    """Importing the package outside a Spark task changes nothing."""
    assert not zipcache.install()
    assert zipimport.zipimporter.invalidate_caches.__module__ == STDLIB


def test_install_patches_inside_a_task(monkeypatch):
    from pyspark import TaskContext

    stdlib = zipcache._stdlib_invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    monkeypatch.setattr(TaskContext, "_taskContext", object())
    assert zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is zipcache.invalidate_if_changed


def test_parse_workers_are_patched(spark, tiny_transcripts):
    """After a parse query, an Arrow UDF that never touches the package
    runs in the same Python workers and finds the stat-checked
    ``invalidate_caches`` installed; the driver's is still the stdlib
    one."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from opentelemetry_collector_spark.functions.parse import extract_arrow_udf
    from opentelemetry_collector_spark.plans.pipeline import TRANSCRIPT_PATTERN

    @F.arrow_udf("long")
    def worker_pid(s: pa.Array) -> pa.Array:
        return pa.array([os.getpid()] * len(s), pa.int64())

    @F.arrow_udf("string")
    def invalidate_module(s: pa.Array) -> pa.Array:
        name = f"{os.getpid()} {zipimport.zipimporter.invalidate_caches.__module__}"
        return pa.array([name] * len(s), pa.string())

    parse = extract_arrow_udf(TRANSCRIPT_PATTERN)
    parsed = tiny_transcripts.repartition(4).select(
        parse(F.col("text")).alias("p"), worker_pid(F.col("text")).alias("pid")
    )
    # one ArrowEvalPython node: each pid is the worker that ran the parse
    plan = parsed._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    parse_pids = {r.pid for r in parsed.collect()}
    probe = spark.range(64, numPartitions=64).select(
        invalidate_module(F.col("id").cast("string"))
    )
    seen = dict(r[0].split() for r in probe.collect())
    probed = {int(pid) for pid in seen} & parse_pids
    assert probed, (parse_pids, seen)
    assert {seen[str(pid)] for pid in probed} == {PATCHED}
    assert zipimport.zipimporter.invalidate_caches.__module__ == STDLIB
