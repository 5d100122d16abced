"""The driver JVM's class-data-sharing archive (``zestdb_spark.cds``).

Every test points the cache at ``tmp_path`` through ``XDG_CACHE_HOME``.
Sessions start in child processes, because the archive only applies to
a new driver JVM and one process keeps one JVM. A session that cannot
use an archive must start exactly as it does without one, and no route
may print on stdout, whose last line callers parse.
"""

from __future__ import annotations

import glob
import os
import re
import shutil
import subprocess
import sys

import pytest
from pyspark.find_spark_home import _find_spark_home

from zestdb_spark import cds

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_HOME = _find_spark_home()
JAVA_HOME = cds._java_home(os.environ)

pytestmark = pytest.mark.skipif(
    JAVA_HOME is None or cds._jdk_identity(JAVA_HOME) is None,
    reason="needs a JDK 17+ install",
)

#: a child session: one job, then stop (a recorder dumps in stop)
SESSION = f"""
import sys
sys.path.insert(0, {ROOT!r})
from zestdb_spark.session import get_spark
spark = get_spark("cds-test", shuffle_partitions=2)
assert spark.range(100).count() == 100
spark.stop()
print("OK")
"""


def _env(tmp_path, **extra) -> dict:
    env = dict(os.environ, XDG_CACHE_HOME=str(tmp_path / "cache"), **extra)
    env.pop("PYSPARK_GATEWAY_PORT", None)
    return env


def _session(env) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-c", SESSION], env=env, capture_output=True, text=True, timeout=300
    )


def _key(env) -> str:
    """This install's key, taken without keeping the recorder lock."""
    plan = cds.plan(SPARK_HOME, env)
    assert plan is not None and plan.recording
    plan.release()
    return plan.key


def _fake_archive(path, size: int) -> None:
    head = cds._MAGIC.to_bytes(4, sys.byteorder)
    path.write_bytes(head + b"\0" * (size - len(head)))


def test_truncated_archive_never_reaches_a_jvm(tmp_path):
    env = _env(tmp_path)
    cache = cds.cache_dir(env)
    key = _key(env)
    final = tmp_path / "cache" / "zestdb_spark" / f"cds-{key}-8192.jsa"

    _fake_archive(final, 4096)  # torn: shorter than its name says
    plan = cds.plan(SPARK_HOME, env)
    assert plan.archive is None and "SharedArchiveFile" not in plan.java_options
    plan.release()

    final.write_bytes(b"\0" * 8192)  # right size, no archive magic
    plan = cds.plan(SPARK_HOME, env)
    assert plan.archive is None and "SharedArchiveFile" not in plan.java_options
    plan.release()

    other = final.with_name(f"cds-{'0' * len(key)}-8192.jsa")
    _fake_archive(other, 8192)  # whole, but another key's
    plan = cds.plan(SPARK_HOME, env)
    assert plan.archive is None and "SharedArchiveFile" not in plan.java_options
    plan.release()

    _fake_archive(final, 8192)  # whole: the only file a JVM may map
    plan = cds.plan(SPARK_HOME, env)
    assert plan.archive == os.path.join(cache, final.name)
    assert f"-XX:SharedArchiveFile={plan.archive}" in plan.java_options
    assert not plan.recording


def test_foreign_archive_starts_a_plain_session_with_clean_stdout(tmp_path):
    # a real dynamic archive whose classpath is one Spark jar, not the
    # session's: the JVM must refuse it and run without sharing
    foreign = tmp_path / "foreign.jsa"
    launcher = glob.glob(os.path.join(SPARK_HOME, "jars", "spark-launcher*.jar"))
    assert launcher
    subprocess.run(
        [
            os.path.join(JAVA_HOME, "bin", "java"),
            f"-XX:ArchiveClassesAtExit={foreign}",
            "-Xlog:all=off",
            "-cp",
            launcher[0],
            "org.apache.spark.launcher.Main",
        ],
        capture_output=True,
        timeout=120,
    )
    assert cds._archive_size(str(foreign)) == foreign.stat().st_size
    env = _env(tmp_path)
    key = _key(env)
    final = os.path.join(cds.cache_dir(env), f"cds-{key}-{foreign.stat().st_size}.jsa")
    shutil.copyfile(foreign, final)
    assert cds.plan(SPARK_HOME, env).archive == final

    done = _session(env)
    assert done.returncode == 0, done.stderr[-2000:]
    assert done.stdout == "OK\n"


def test_conf_dir_with_real_config_gets_no_cds(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("# template\n")
    templates_only = cds.plan(SPARK_HOME, _env(tmp_path, SPARK_CONF_DIR=str(conf)))
    assert templates_only is not None
    templates_only.release()

    (conf / "spark-defaults.conf").write_text("spark.driver.extraClassPath /x\n")
    assert cds.plan(SPARK_HOME, _env(tmp_path, SPARK_CONF_DIR=str(conf))) is None

    # the launcher's stand-in conf dir must stay empty too
    env = _env(tmp_path)
    (tmp_path / "cache" / "zestdb_spark" / "empty-conf" / "log4j2.properties").write_text("")
    assert cds.plan(SPARK_HOME, env) is None


def test_key_follows_the_jdk_build_and_every_jar(tmp_path):
    jars = tmp_path / "jars"
    jars.mkdir()
    for name in ("a.jar", "b.jar"):
        (jars / name).write_bytes(b"PK")
    key = cds._key(b"jdk", "/conf", str(jars))
    assert cds._key(b"jdk", "/conf", str(jars)) == key
    assert cds._key(b"other jdk", "/conf", str(jars)) != key
    assert cds._key(b"jdk", "/other-conf", str(jars)) != key
    st = os.stat(jars / "b.jar")
    os.utime(jars / "b.jar", ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    touched = cds._key(b"jdk", "/conf", str(jars))
    assert touched != key
    (jars / "b.jar").write_bytes(b"PK..")
    assert cds._key(b"jdk", "/conf", str(jars)) not in (key, touched)


def _fake_jdk(tmp_path, version: str, with_jcmd: bool) -> str:
    """A JDK dir that links to the real one's files, with its own
    ``release`` and ``bin``."""
    home = tmp_path / f"jdk-{version}-{with_jcmd}"
    (home / "bin").mkdir(parents=True)
    os.symlink(os.path.join(JAVA_HOME, "lib"), home / "lib")
    os.symlink(os.path.join(JAVA_HOME, "bin", "java"), home / "bin" / "java")
    if with_jcmd:
        os.symlink(os.path.join(JAVA_HOME, "bin", "jcmd"), home / "bin" / "jcmd")
    release = open(os.path.join(JAVA_HOME, "release")).read()
    (home / "release").write_text(re.sub(r'(?m)^JAVA_VERSION=.*$', f'JAVA_VERSION="{version}"', release))
    return str(home)


def test_missing_jcmd_means_no_recording(tmp_path):
    with_jcmd = cds.plan(SPARK_HOME, _env(tmp_path, JAVA_HOME=_fake_jdk(tmp_path, "17.0.9", True)))
    assert with_jcmd is not None and with_jcmd.recording
    with_jcmd.release()

    assert cds.plan(SPARK_HOME, _env(tmp_path, JAVA_HOME=_fake_jdk(tmp_path, "17.0.9", False))) is None
    assert not glob.glob(str(tmp_path / "cache" / "zestdb_spark" / "*.jsa"))


def test_failed_dump_leaves_no_archive_and_is_not_retried(tmp_path):
    home = _fake_jdk(tmp_path, "17.0.9", False)
    # a jcmd that writes part of the archive, then fails
    jcmd = os.path.join(home, "bin", "jcmd")
    with open(jcmd, "w") as f:
        f.write('#!/bin/sh\nhead -c 4096 /dev/zero > "$4"\nexit 1\n')
    os.chmod(jcmd, 0o755)
    env = _env(tmp_path, JAVA_HOME=home)
    plan = cds.plan(SPARK_HOME, env)
    assert plan.recording
    assert plan.dump(os.getpid()) is None
    assert not plan.recording
    # the partial file is gone and nothing sits at an archive name
    left = sorted(os.listdir(cds.cache_dir(env)))
    assert left == sorted(["empty-conf", f"cds-{plan.key}.lock", f"cds-{plan.key}.failed"])
    # the key is not recorded again: every later session starts plain
    assert cds.plan(SPARK_HOME, env) is None


def test_jdk_below_17_gets_no_cds(tmp_path):
    assert cds.plan(SPARK_HOME, _env(tmp_path, JAVA_HOME=_fake_jdk(tmp_path, "11.0.20", True))) is None


#: a child that takes a plan and holds it until its stdin closes
HOLD_PLAN = f"""
import sys
sys.path.insert(0, {ROOT!r})
from zestdb_spark import cds
plan = cds.plan({SPARK_HOME!r})
print(plan is not None and plan.recording, flush=True)
sys.stdin.read()
"""


def test_concurrent_first_sessions_make_one_recorder(tmp_path):
    env = _env(tmp_path)
    children = [
        subprocess.Popen(
            [sys.executable, "-c", HOLD_PLAN], env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True
        )
        for _ in range(3)
    ]
    try:
        # every child has its plan before any lets go of it
        recording = [c.stdout.readline().strip() for c in children]
    finally:
        for c in children:
            c.communicate("", timeout=60)
    assert sorted(recording) == ["False", "False", "True"]


def test_session_after_a_recording_one_loads_spark_classes_from_the_archive(tmp_path):
    env = _env(tmp_path)
    recorder = _session(env)
    assert recorder.returncode == 0, recorder.stderr[-2000:]
    assert recorder.stdout == "OK\n"
    (archive,) = glob.glob(os.path.join(cds.cache_dir(env), "cds-*.jsa"))
    assert cds.plan(SPARK_HOME, env).archive == archive
    assert not glob.glob(os.path.join(cds.cache_dir(env), ".*.tmp"))

    logs = tmp_path / "class-load"
    logs.mkdir()
    env["JAVA_TOOL_OPTIONS"] = f"-Xlog:class+load=info:file={logs}/%p.log"
    user = _session(env)
    assert user.returncode == 0, user.stderr[-2000:]
    assert user.stdout == "OK\n"

    shared = jars = 0
    for path in logs.iterdir():
        for line in path.read_text().splitlines():
            if " org.apache.spark." not in line:
                continue
            if "source: shared objects file (top)" in line:
                shared += 1
            elif "source: jar:" in line or "source: file:" in line:
                jars += 1
    # most of Spark's classes come from the archive's top layer; the rest
    # were loaded but never linked when the recorder dumped, and JDK 17
    # leaves such classes out
    assert shared > 1000
    assert shared > jars

