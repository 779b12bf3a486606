"""Session wiring and the Python worker daemon: the stamp-checked
``zipimporter.invalidate_caches`` re-reads only changed archives, is
live in the workers of the shared session, installs only on verified
versions, and a session built from a foreign cwd still runs Python
tasks."""

from __future__ import annotations

import collections
import importlib
import logging
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pyspark

from polars_text_spark import _worker_daemon as wd
from polars_text_spark.session import (
    _DAEMON_MODULE,
    _EXECUTOR_PYTHONPATH,
    _PACKAGE_PARENT,
    _with_worker_daemon,
)


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


def test_stamp_checked_invalidate_caches_rereads_only_changed_archives(
    tmp_path, monkeypatch
):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"pts_zip_first": "VALUE = 1\n"})
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", wd.invalidate_caches
    )
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("pts_zip_first").VALUE == 1
        importlib.invalidate_caches()  # stamps the archive
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads == []  # unchanged: no re-read

        _write_zip(
            archive,
            {"pts_zip_first": "VALUE = 1\n", "pts_zip_second": "VALUE = 2\n"},
        )
        importlib.invalidate_caches()
        assert len(reads) == 1  # rewritten: one re-read for all importers
        assert importlib.import_module("pts_zip_second").VALUE == 2

        os.remove(archive)
        importlib.invalidate_caches()  # missing: the stock method drops it
        assert archive not in zipimport._zip_directory_cache
        assert sys.path_importer_cache[archive]._files == {}
        assert archive not in wd._stamps
    finally:
        for name in ("pts_zip_first", "pts_zip_second"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_version_guard_logs_one_line_and_keeps_stock(monkeypatch, caplog):
    assert wd.skip_reason("4.1.2", (3, 11, 7)) is None
    assert "PySpark 3.5.1" in wd.skip_reason("3.5.1", (3, 11, 7))
    assert "PySpark 4.2.0" in wd.skip_reason("4.2.0", (3, 11, 7))
    assert "CPython 3.12" in wd.skip_reason("4.1.2", (3, 12, 1))

    stock = zipimport.zipimporter.invalidate_caches
    # restores the class attribute whatever install() does
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    monkeypatch.setattr(pyspark, "__version__", "3.5.1")
    with caplog.at_level(logging.INFO, logger="polars_text_spark"):
        assert wd.install() is False
    assert zipimport.zipimporter.invalidate_caches is stock
    records = [r for r in caplog.records if r.name == "polars_text_spark"]
    assert len(records) == 1
    assert "skipped" in records[0].getMessage()
    assert "PySpark 3.5.1" in records[0].getMessage()


def test_worker_daemon_only_for_local_masters(tmp_path, monkeypatch):
    conf = _with_worker_daemon("local[4]", {"spark.ui.enabled": "false"})
    assert conf == {
        "spark.ui.enabled": "false",
        "spark.python.daemon.module": _DAEMON_MODULE,
        _EXECUTOR_PYTHONPATH: _PACKAGE_PARENT,
    }
    # an existing PYTHONPATH is kept, and the parent is not repeated
    kept = _with_worker_daemon(
        "local[2]", {_EXECUTOR_PYTHONPATH: os.pathsep.join(["/a", _PACKAGE_PARENT])}
    )
    assert kept[_EXECUTOR_PYTHONPATH] == os.pathsep.join(["/a", _PACKAGE_PARENT])
    # the opt-out
    stock = {"spark.python.daemon.module": "pyspark.daemon"}
    assert _with_worker_daemon("local[2]", stock)["spark.python.daemon.module"] == (
        "pyspark.daemon"
    )
    # a cluster master, or one left to spark-submit, keeps pyspark.daemon
    assert _with_worker_daemon("spark://host:7077", {"a": "b"}) == {"a": "b"}
    assert _with_worker_daemon(None, {}) == {}
    # the workers' cwd holds another copy of the package, which the
    # daemon would import first
    (tmp_path / "polars_text_spark").mkdir()
    (tmp_path / "polars_text_spark" / "__init__.py").write_text("")
    monkeypatch.chdir(tmp_path)
    assert _with_worker_daemon("local[2]", {}) == {}


def test_stamp_checked_invalidate_caches_live_in_reused_workers(spark):
    def probe(_):
        import os
        import zipimport

        from polars_text_spark import _worker_daemon

        marker = getattr(zipimport.zipimporter.invalidate_caches, "stamp_checked", False)
        return [(os.getpid(), marker, _worker_daemon.rereads)]

    # more tasks than the workers a local session keeps, so workers repeat
    rows = spark.sparkContext.parallelize(range(64), 64).mapPartitions(probe).collect()
    assert all(marker for _, marker, _ in rows)
    assert max(collections.Counter(pid for pid, _, _ in rows).values()) > 1
    # one reading per worker: its count did not grow across its tasks
    assert len(set(rows)) == len({pid for pid, _, _ in rows})


def test_foreign_cwd_session_runs_python_tasks(tmp_path):
    """The driver finds the package only through its own ``sys.path``:
    without the PYTHONPATH merge the daemon cannot start, and every
    Python task fails (EOFException reading the daemon's port)."""
    script = tmp_path / "driver.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import sys
            sys.path.insert(0, {_PACKAGE_PARENT!r})
            from polars_text_spark.session import get_spark

            spark = get_spark(
                "foreign-cwd",
                master="local[2]",
                extra_conf={{"spark.ui.enabled": "false",
                             "spark.ui.showConsoleProgress": "false"}},
            )

            def probe(_):
                import zipimport
                yield getattr(
                    zipimport.zipimporter.invalidate_caches, "stamp_checked", False
                )

            rdd = spark.sparkContext.parallelize(range(8), 2)
            print("SUM", rdd.map(lambda x: x + 1).sum())
            print("MARKERS", rdd.mapPartitions(probe).collect())
            spark.stop()
            """
        )
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "SUM 36" in out.stdout
    assert "MARKERS [True, True]" in out.stdout
