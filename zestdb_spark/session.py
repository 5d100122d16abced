"""SparkSession factory.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]``; production target is a
multi-executor cluster, so every knob here is also correct at scale:
AQE on (runtime shuffle coalescing + skew-join splitting), shuffle
partitions sized to the environment, UTC session timezone (so epoch-ms
arithmetic matches the DuckDB oracle), Arrow enabled for the few
Pandas-UDF paths.

Python workers (the ``mapInArrow`` kernels under ``functions/``) start
through ``zestdb_spark.worker_daemon``, which stops pyspark's per-task
re-read of the zip archives on the worker path, and talk to the JVM over
a Unix socket where the host has a short enough private directory for
one; otherwise they stay on TCP loopback, whose delayed-ACK stall cost
~42 ms before every task's first input byte.

A new driver JVM maps the Spark classes from a class-data-sharing
archive built on this host when it can (``zestdb_spark.cds``); the first
session of a JDK and Spark install records that archive when it stops.
"""

from __future__ import annotations

import atexit
import os
import shutil
import socket
import tempfile
from contextlib import contextmanager, nullcontext

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from zestdb_spark import cds

#: pyspark.daemon binds ``<dir>/.<uuid4>.sock``: 43 bytes after the dir,
#: inside the 107 usable bytes of ``sockaddr_un.sun_path``
_SOCKET_DIR_MAX = 64
#: the directory that holds the ``zestdb_spark`` package, put on the
#: Python workers' path so they can import the daemon module from any cwd
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _worker_socket_dir(bases) -> str | None:
    """A new private directory for Spark's Python-worker Unix sockets,
    made under the first of ``bases`` that gives a path of at most
    ``_SOCKET_DIR_MAX`` bytes, or None (workers stay on TCP) when none
    does or the platform has no ``AF_UNIX``."""
    if not hasattr(socket, "AF_UNIX"):
        return None
    for base in bases:
        if not base:
            continue
        try:
            path = tempfile.mkdtemp(prefix="zest-py-", dir=base)
        except OSError:
            continue
        if len(os.fsencode(path)) <= _SOCKET_DIR_MAX:
            return path
        os.rmdir(path)
    return None


def _after_stop(sc: SparkContext, fn) -> None:
    """Call ``fn()`` each time ``sc`` has stopped."""
    stop = sc.stop

    def stop_then() -> None:
        try:
            stop()
        finally:
            fn()

    sc.stop = stop_then


def _remove_on_stop(sc: SparkContext, path: str) -> None:
    """Delete ``path`` when ``sc`` stops, or at exit if it never does."""
    _after_stop(sc, lambda: shutil.rmtree(path, ignore_errors=True))
    atexit.register(shutil.rmtree, path, True)


def _dump_on_stop(sc: SparkContext, plan: cds.Plan) -> None:
    """Record ``plan``'s archive from the driver JVM once ``sc`` has
    stopped. The JDK prints "Dynamic dump to file ..." on the JVM's
    ``System.out``, the caller's stdout, so the dump runs with it
    pointed at ``System.err``."""
    system = sc._jvm.java.lang.System
    pid = sc._jvm.java.lang.ProcessHandle.current().pid()

    def dump() -> None:
        if not plan.recording:
            return
        out = system.out
        system.setOut(system.err)
        try:
            plan.dump(pid)
        finally:
            system.setOut(out)

    _after_stop(sc, dump)


@contextmanager
def _conf_dir_env(path: str):
    """Point the launcher's ``SPARK_CONF_DIR`` at ``path`` while the
    driver JVM starts."""
    before = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = path
    try:
        yield
    finally:
        if before is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = before


def get_spark(app_name: str = "zestdb_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus.strip("*") or 32) if cpus != "*" else 32, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # shuffled-hash join where the build side fits (guide §3.1/§9):
        # planner preference + AQE's runtime rewrite gated on the real
        # post-shuffle partition size — sort-merge stays the fallback
        # past 64 MB per partition. Measured 20-30% on the self-join /
        # verify-join rows (see io/fixtures.py harden_session, which
        # applies the same pair to vanilla driver sessions).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
        # driver testdata stores events.ts as TIMESTAMP(NANOS) which Spark
        # cannot read as a timestamp; read the raw int64 nanos instead and
        # convert with integer division (see io/fixtures.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # InferFiltersFromGenerate clones the full generator expression
        # into a pre-Generate Filter; with CodegenFallback higher-order
        # array builders (every shingle/n-gram op) that re-runs the
        # interpreted chain twice per row — measured 14x on a shingle
        # explode. The inferred filter only skips zero-output rows, so
        # excluding it is semantics-preserving (io/fixtures.py
        # harden_session applies the same exclusion to vanilla driver
        # sessions).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer."
            "InferFiltersFromGenerate",
        )
        # PySpark 4 wraps EVERY functions.* call with a call-site
        # capture for DataFrame error context; when enabled each
        # Column-building call pays ~4 extra py4j round-trips
        # (getActiveSession + conf.get + origin set/clear). Complex
        # plans here build thousands of Columns per query (64 MinHash
        # aggs, 16-band structs, language trees), and the bench
        # rebuilds the frame every cycle — measured 0.9 s of a 2.5 s
        # dedup_minhash build in pure py4j chatter. Static conf, so it
        # must be set at builder time; harden_session flips the
        # Python-side cache for vanilla driver sessions.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.python.daemon.module", "zestdb_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    # static confs: only a new SparkContext reads them
    socket_dir = None
    if SparkContext._active_spark_context is None:
        socket_dir = _worker_socket_dir((os.environ.get("TMPDIR"), "/tmp"))
    if socket_dir is not None:
        builder = builder.config("spark.python.unix.domain.socket.enabled", "true").config(
            "spark.python.unix.domain.socket.dir", socket_dir
        )
    # java options: only a new driver JVM reads them
    jvm = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        jvm = cds.plan(_find_spark_home())
    if jvm is not None:
        builder = builder.config("spark.driver.extraJavaOptions", jvm.java_options)
    try:
        with _conf_dir_env(jvm.conf_dir) if jvm is not None else nullcontext():
            spark = builder.getOrCreate()
    except BaseException:
        if jvm is not None:
            jvm.release()
        raise
    if socket_dir is not None:
        _remove_on_stop(spark.sparkContext, socket_dir)
    if jvm is not None and jvm.recording:
        _dump_on_stop(spark.sparkContext, jvm)
    spark.sparkContext.setLogLevel("WARN")
    return spark
