"""The per-task cost of the Python-worker boundary.

pyspark's worker calls ``importlib.invalidate_caches()`` before every
task; up to Python 3.12 that re-parsed every zip archive on the worker
path (``pyspark.zip``, the py4j zip, the spark-core jar). Sessions from
``get_spark`` start their workers through ``zestdb_spark.worker_daemon``,
which re-reads an archive only when it changed, and move the worker
traffic onto a Unix socket where the host has a short private directory
for one. The worker-side checks run inside real Spark tasks.
"""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

from zestdb_spark import session


def _in_worker(spark, fn):
    """Run ``fn()`` in one Python-worker task and return its result."""
    return spark.sparkContext.parallelize([0], 1).map(lambda _: fn()).collect()[0]


def test_session_starts_workers_through_daemon_module_on_unix_socket(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "zestdb_spark.worker_daemon"
    assert conf.get("spark.python.unix.domain.socket.enabled") == "true"
    sock_dir = conf.get("spark.python.unix.domain.socket.dir")
    assert os.path.isdir(sock_dir)
    assert len(os.fsencode(sock_dir)) <= session._SOCKET_DIR_MAX

    def where():
        import os
        import sys

        return (
            sys.modules["__main__"].__spec__.name,
            os.environ.get("PYTHON_WORKER_FACTORY_SOCK_DIR"),
            sys.path,
        )

    main, worker_sock_dir, path = _in_worker(spark, where)
    assert main == "zestdb_spark.worker_daemon"
    assert worker_sock_dir == sock_dir
    # the daemon module imports from any cwd
    assert session._PACKAGE_PARENT in path


def test_worker_task_does_not_reread_unchanged_archives(spark):
    def reads_on_invalidate():
        import importlib
        import os
        import sys
        import zipimport

        archives = [p for p in sys.path if os.path.isfile(p)]
        reads = []
        read = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        return archives, reads

    archives, reads = _in_worker(spark, reads_on_invalidate)
    assert any(a.endswith("pyspark.zip") for a in archives)
    assert any(a.endswith(".jar") for a in archives)
    assert reads == []


def test_worker_task_rereads_a_rewritten_archive(spark, tmp_path):
    archive = str(tmp_path / "zest_boundary_probe.zip")

    def reload_after_rewrite():
        import importlib
        import sys
        import zipimport

        def write(body):
            with zipfile.ZipFile(archive, "w") as z:
                z.writestr("zest_boundary_probe.py", body)

        write("VALUE = 1\n")
        sys.path.insert(0, archive)
        try:
            mod = importlib.import_module("zest_boundary_probe")
            before = mod.VALUE
            importlib.invalidate_caches()
            write("VALUE = 'rewritten, with a longer body'\n")
            reads = []
            read = zipimport._read_directory

            def counting(path):
                reads.append(path)
                return read(path)

            zipimport._read_directory = counting
            try:
                importlib.invalidate_caches()
            finally:
                zipimport._read_directory = read
            after = importlib.reload(mod).VALUE
        finally:
            sys.path.remove(archive)
            sys.path_importer_cache.pop(archive, None)
            sys.modules.pop("zest_boundary_probe", None)
        return before, after, reads.count(archive)

    before, after, rereads = _in_worker(spark, reload_after_rewrite)
    assert before == 1
    assert after == "rewritten, with a longer body"
    assert rereads >= 1


def test_socket_dir_falls_back_to_tcp_without_a_short_dir(tmp_path, monkeypatch):
    long_base = tmp_path / ("d" * max(1, 100 - len(os.fsencode(str(tmp_path))) - 1))
    long_base.mkdir()
    assert len(os.fsencode(str(long_base))) >= 100
    monkeypatch.setenv("TMPDIR", str(long_base))
    assert session._worker_socket_dir((os.environ["TMPDIR"],)) is None
    assert os.listdir(long_base) == []  # the too-long candidate is not left behind

    short = session._worker_socket_dir((os.environ["TMPDIR"], "/tmp"))
    try:
        assert os.path.dirname(short) == "/tmp"
        assert oct(os.stat(short).st_mode & 0o777) == oct(0o700)
    finally:
        os.rmdir(short)

    monkeypatch.setattr(session, "socket", object())  # a platform without AF_UNIX
    assert session._worker_socket_dir(("/tmp",)) is None


def test_socket_dir_is_removed_when_the_session_stops():
    class Context:
        stopped = False

        def stop(self):
            self.stopped = True

    sock_dir = session._worker_socket_dir(("/tmp",))
    open(os.path.join(sock_dir, ".worker.sock"), "w").close()
    ctx = Context()
    session._remove_on_stop(ctx, sock_dir)
    ctx.stop()
    assert ctx.stopped
    assert not os.path.exists(sock_dir)


def test_daemon_module_imports_only_the_standard_library():
    out = subprocess.run(
        [sys.executable, "-c", "import sys, zestdb_spark.worker_daemon; print(sorted(sys.modules))"],
        cwd=session._PACKAGE_PARENT,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    assert "pyspark" not in out
    assert "'zestdb_spark.session'" not in out
