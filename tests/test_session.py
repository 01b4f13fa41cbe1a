"""The engine's PySpark daemon (pyworker): per-task zip re-reads skipped for
Spark's own archives only, the loopback TCP socket sent and acknowledged
without delay, and the daemon reachable when the engine ships by
``--py-files``."""

from __future__ import annotations

import os
import socket
import subprocess
import zipfile

import pytest


def _reread_counts(archive_paths=()):
    """Kernel: run ``importlib.invalidate_caches()`` once, as the worker does
    per task, and count zip directory reads of the archives Spark's own
    Python came from (pyspark, py4j, and the spark-core jar that provides
    the ``org`` namespace) and of `archive_paths`."""
    def kernel(_):
        import importlib
        import sys
        import zipimport

        frozen = {sys.path_importer_cache[loc].archive
                  for name in ("pyspark", "py4j", "org")
                  for loc in getattr(sys.modules.get(name), "__path__", ())
                  if isinstance(sys.path_importer_cache.get(loc),
                                zipimport.zipimporter)}
        reads = []
        stock = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return stock(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock
        yield (len(frozen), sum(a in frozen for a in reads),
               sum(a.endswith(archive_paths) for a in reads))
    return kernel


def test_worker_skips_pyspark_zip_rereads(spark):
    n_archives, n_reads, _ = spark.sparkContext.parallelize(
        [0], 1).mapPartitions(_reread_counts()).collect()[0]
    if n_archives == 0:
        pytest.skip("workers import pyspark from a directory, not a zip")
    assert n_reads == 0


def test_py_file_added_after_daemon_start_is_importable(spark, tmp_path):
    sc = spark.sparkContext
    sc.parallelize([0], 1).count()          # the daemon is up
    zpath = tmp_path / "late_pyfile_mod.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("late_pyfile_mod.py", "VALUE = 42\n")
    sc.addPyFile(str(zpath))

    counts = _reread_counts((zpath.name,))

    def kernel(it):
        import late_pyfile_mod
        for row in counts(it):
            yield (late_pyfile_mod.VALUE,) + row

    value, n_archives, n_frozen_reads, n_late_reads = sc.parallelize(
        [0], 1).mapPartitions(kernel).collect()[0]
    assert value == 42
    # the added archive keeps CPython's re-read; only pyspark/py4j skip it
    assert n_late_reads >= 1
    if n_archives:
        assert n_frozen_reads == 0


class _RecordingSocket(socket.socket):
    def setsockopt(self, *args):
        self.calls = getattr(self, "calls", []) + [args]
        return super().setsockopt(*args)


def test_no_delay_wraps_tcp_sockets_only():
    from text_retrieval_and_search_engines_spark.pyworker import no_delay
    calls = []
    wrapped = no_delay(lambda sock, authenticated: calls.append(
        authenticated) or 7)
    with socket.create_server(("127.0.0.1", 0)) as srv, \
            socket.create_connection(srv.getsockname()):
        conn, _ = srv.accept()
        with conn:
            assert conn.getsockopt(socket.IPPROTO_TCP,
                                   socket.TCP_NODELAY) == 0
            assert wrapped(conn, True) == 7
            assert conn.getsockopt(socket.IPPROTO_TCP,
                                   socket.TCP_NODELAY) == 1
    with _RecordingSocket(socket.AF_UNIX, socket.SOCK_STREAM) as unix:
        assert wrapped(unix, False) == 7
        assert getattr(unix, "calls", []) == []
    assert calls == [True, False]


_SUBMIT_JOB = """
from text_retrieval_and_search_engines_spark.session import get_spark
spark = get_spark("submit", master="local[1]")
def kernel(it):
    import text_retrieval_and_search_engines_spark as pkg
    yield pkg.__name__
print("KERNEL", spark.sparkContext.parallelize([0], 1)
      .mapPartitions(kernel).collect())
spark.stop()
"""


def test_spark_submit_py_files_starts_the_daemon(tmp_path):
    """With the engine shipped only by ``--py-files`` and run from another
    directory, the daemon (started before any task) still imports it."""
    submit = os.path.join(os.environ.get("SPARK_HOME", ""), "bin",
                          "spark-submit")
    if not os.path.exists(submit):
        pytest.skip("no spark-submit under SPARK_HOME")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = "text_retrieval_and_search_engines_spark"
    with zipfile.ZipFile(tmp_path / "engine.zip", "w") as z:
        for d, _, files in os.walk(os.path.join(root, pkg)):
            for f in files:
                if f.endswith(".py"):
                    path = os.path.join(d, f)
                    z.write(path, os.path.relpath(path, root))
    (tmp_path / "job.py").write_text(_SUBMIT_JOB)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [submit, "--py-files", "engine.zip", "job.py"], cwd=tmp_path,
        env=env, capture_output=True, text=True, timeout=300)
    assert f"KERNEL ['{pkg}']" in out.stdout, out.stderr[-3000:]
