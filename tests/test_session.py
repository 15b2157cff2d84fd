"""Engine-session settings: the Python-worker daemon and DataFrame
debugging off."""

from __future__ import annotations

import importlib.util
import os
import sys
import zipfile
import zipimport

import pytest
from pyspark.errors import ArithmeticException
from pyspark.errors.utils import is_debugging_enabled
from pyspark.sql import functions as F

from lambda_kafka_to_s3_parquet_spark import worker_daemon
from lambda_kafka_to_s3_parquet_spark.session import PACKAGE_ROOT

DAEMON = "lambda_kafka_to_s3_parquet_spark.worker_daemon"


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def _load(importer, name: str):
    spec = importer.find_spec(name)
    assert spec is not None, name
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_stamp_rereads_an_archive_only_when_it_changed(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"alpha": "X = 1\n"})
    importer = zipimport.zipimporter(archive)
    reference = zipimport.zipimporter(archive)
    reads = []
    real_read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or real_read(p)
    )

    worker_daemon._invalidate_caches(importer)  # no stamp yet: one read
    worker_daemon._invalidate_caches(importer)
    worker_daemon._invalidate_caches(importer)
    assert reads == [archive]
    assert _load(importer, "alpha").X == 1

    ino = os.stat(archive).st_ino
    _write_zip(archive, {"alpha": "X = 1\n", "beta": "Y = 2\n"})
    assert os.stat(archive).st_ino == ino  # rewritten in place
    worker_daemon._invalidate_caches(importer)
    assert reads == [archive, archive]
    assert _load(importer, "beta").Y == 2

    os.remove(archive)
    worker_daemon._invalidate_caches(importer)
    zipimport.zipimporter.invalidate_caches(reference)  # the stdlib's behaviour
    for imp in (importer, reference):
        assert imp._files == {}
        assert imp.find_spec("alpha") is None
    assert archive not in zipimport._zip_directory_cache
    worker_daemon._invalidate_caches(importer)  # still gone: still empty
    assert importer._files == {}


def _worker_probe(batches):
    """In a reused worker: which daemon forked it, and how many archive
    reads one importlib.invalidate_caches() makes once warm."""
    import pandas as pd

    importlib.invalidate_caches()
    reads = [0]
    real_read = zipimport._read_directory

    def counting(path):
        reads[0] += 1
        return real_read(path)

    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = real_read
    for _ in batches:
        pass
    spec = sys.modules["__main__"].__spec__
    yield pd.DataFrame({"daemon": [spec.name if spec else ""], "reads": [reads[0]]})


def test_python_workers_fork_from_the_engine_daemon_and_skip_unchanged_archives(spark):
    df = spark.range(1, numPartitions=1)
    for _ in range(2):  # the second task runs in a reused worker
        (row,) = df.mapInPandas(_worker_probe, "daemon string, reads long").collect()
        assert row.daemon == DAEMON
        assert row.reads == 0


def test_engine_session_settings(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == DAEMON
    paths = conf.get("spark.executorEnv.PYTHONPATH").split(os.pathsep)
    assert paths[0] == PACKAGE_ROOT
    assert os.path.isfile(os.path.join(PACKAGE_ROOT, *DAEMON.split(".")) + ".py")
    assert is_debugging_enabled() is False
    # Debugging off drops only the error's Python file:line fragment.
    with pytest.raises(ArithmeticException) as err:
        spark.range(1).select(F.lit(1) / F.lit(0)).collect()
    assert err.value.getCondition() == "DIVIDE_BY_ZERO"
    assert "Division by zero" in str(err.value)
    assert os.path.basename(__file__) not in str(err.value)
