"""The Python worker daemon (``hw_kafka_streams_spark.pydaemon``): a zip
archive whose (mtime, size) stamp is unchanged is not re-read at each
task's ``importlib.invalidate_caches()``; a rewritten one still is."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

from hw_kafka_streams_spark import pydaemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("graft_zip_mod_a.py", "A = 1\n")
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pydaemon.invalidate_caches)
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    try:
        assert importlib.import_module("graft_zip_mod_a").A == 1
        importlib.invalidate_caches()  # first call stamps the importer
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads == []

        with zipfile.ZipFile(archive, "a") as z:
            z.writestr("graft_zip_mod_b.py", "B = 2\n")
        importlib.invalidate_caches()
        assert reads == [archive]
        assert importlib.import_module("graft_zip_mod_b").B == 2
    finally:
        for name in ("graft_zip_mod_a", "graft_zip_mod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_worker_runs_the_engine_daemon(spark):
    """Inside a Python worker the zipimporter hook is pydaemon's."""

    def report(batches):
        import pyarrow as pa

        fn = zipimport.zipimporter.invalidate_caches
        where = getattr(getattr(fn, "__code__", None), "co_filename", repr(fn))
        for _ in batches:
            yield pa.RecordBatch.from_pydict({"where": [where]})

    rows = spark.range(10).coalesce(1).mapInArrow(report, "where string").collect()
    assert {r.where for r in rows} == {pydaemon.__file__}


def test_python_udf_runs_from_outside_the_repo(tmp_path):
    """Workers and the daemon find the engine through
    ``spark.executorEnv.PYTHONPATH``, not the working directory."""
    script = (
        "import sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "from hw_kafka_streams_spark.session import get_spark\n"
        "from hw_kafka_streams_spark.operators.udfs import make_censor_udf\n"
        "spark = get_spark('outside-repo')\n"
        "df = spark.createDataFrame([('abc',)], 'text string')\n"
        "print('RESULT', df.select(make_censor_udf(['ab'])('text')).first()[0])\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        cwd=tmp_path,
        env=env,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "RESULT **c" in proc.stdout
