"""The engine's Python worker daemon (``avocado_spark.worker_daemon``):
its zip-importer wrapper skips re-reading an unchanged archive but still
sees a rewritten one, the session's workers run it, and the session puts
the package root on the workers' PYTHONPATH. Also the session's other
Python-side default: no DataFrame call-site capture."""

from __future__ import annotations

import importlib.util
import os
import zipfile
import zipimport
from types import SimpleNamespace

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

from avocado_spark import session, worker_daemon

DF_DEBUGGING = "spark.python.sql.dataFrameDebugging.enabled"


def _write_archive(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(name, source)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "pkg.zip")
    _write_archive(archive, {"mod_a.py": "A = 1\n"})
    importer = zipimport.zipimporter(archive)
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or read_directory(p)
    )
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches)
    monkeypatch.setattr(worker_daemon, "_read_at", {})

    importer.invalidate_caches()  # no stamp yet: one stamped read
    assert reads == [archive]
    for _ in range(3):
        importer.invalidate_caches()
    assert reads == [archive]
    assert importer._files is zipimport._zip_directory_cache[archive]

    _write_archive(archive, {"mod_a.py": "A = 1\n", "mod_b.py": "B = 2\n"})
    importer.invalidate_caches()
    importer.invalidate_caches()  # the new stamp holds: no third read
    assert reads == [archive, archive]
    spec = importer.find_spec("mod_b")
    assert spec is not None
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.B == 2


def test_importing_the_daemon_module_changes_nothing():
    assert zipimport.zipimporter.invalidate_caches is worker_daemon._reread


def test_session_workers_run_the_engine_wrapper(spark):
    def probe(_):
        import zipimport

        f = zipimport.zipimporter.invalidate_caches
        yield f.__qualname__, os.path.realpath(f.__code__.co_filename)

    seen = set(spark.sparkContext.parallelize(range(4), 4).mapPartitions(probe).collect())
    wrapper = worker_daemon.invalidate_caches
    assert seen == {(wrapper.__qualname__, os.path.realpath(worker_daemon.__file__))}


def test_session_puts_package_root_on_worker_path(spark):
    conf = spark.sparkContext.getConf()
    assert session.PACKAGE_ROOT in conf.get(session.WORKER_PYTHONPATH).split(os.pathsep)
    assert conf.get("spark.python.daemon.module") == "avocado_spark.worker_daemon"
    assert os.path.isfile(os.path.join(session.PACKAGE_ROOT, "avocado_spark", "worker_daemon.py"))


def test_session_skips_python_call_site_capture(spark, monkeypatch):
    assert spark.conf.get(DF_DEBUGGING) == "false"
    with pytest.raises(AnalysisException, match="no_such_column"):
        spark.range(1).select("no_such_column")

    # the setting is static, so read what a new session would be built with
    built = {}

    def capture(builder):
        built.update(builder._options)
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda level: None))

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", capture)
    session.get_spark(extra_conf={DF_DEBUGGING: "true"})
    assert built[DF_DEBUGGING] == "true"


def test_worker_path_merges_with_an_existing_value():
    root = session.PACKAGE_ROOT
    assert session._with_package_root(None) == root
    assert session._with_package_root(f"/a{os.pathsep}/b") == os.pathsep.join(["/a", "/b", root])
    already = os.pathsep.join([root, "/a"])
    assert session._with_package_root(already) == already
