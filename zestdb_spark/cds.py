"""Class-data sharing (AppCDS) for the driver JVM.

A new driver JVM spends most of its start loading, parsing and
verifying ~11k Spark and Scala classes from the jars in
``$SPARK_HOME/jars``. A JDK 17+ dynamic CDS archive holds those classes
already parsed and verified; a JVM started with
``-XX:SharedArchiveFile=<archive>`` maps them instead. An archive fits
one JDK build and one classpath, so it is built on this host and keyed
on both: the first session of a key starts with
``-XX:+RecordDynamicDumpInfo`` and, once its SparkContext has stopped,
dumps the classes it loaded with ``jcmd <pid> VM.cds dynamic_dump``.
Later sessions of the same key map the result.

Archives live under ``$XDG_CACHE_HOME/zestdb_spark`` (else
``~/.cache/zestdb_spark``). Deleting that directory only makes the next
session record a new archive.

Hazards this module handles:

- a truncated archive crashes the JVM (SIGBUS while relocating it), so
  the dump goes to a private file that is renamed into place only after
  jcmd succeeded, and the final name carries the file's size: a file
  whose size or magic does not match is never passed to a JVM;
- the JVM refuses to dump with a non-empty directory on the classpath,
  and Spark's launcher puts ``$SPARK_CONF_DIR`` there; sessions with an
  archive point ``SPARK_CONF_DIR`` at an empty directory under the
  cache, which is only equivalent while the real conf directory holds
  nothing but ``*.template`` files;
- a mismatched archive makes the JVM run without sharing and print a
  warning through unified logging, whose default output is stdout;
  CDS sessions send JVM log output to stderr instead;
- one recorder per key: the recorder holds an ``flock`` on the key's
  lock file until its dump ends, so the lock dies with its process.

``plan`` returns None whenever it cannot decide all of this, and the
session then starts exactly as it would without this module.
"""

from __future__ import annotations

import hashlib
import os
import re
import shlex
import shutil
import struct
import subprocess

try:
    import fcntl
except ImportError:  # no flock: never record
    fcntl = None

#: ``CDS_DYNAMIC_ARCHIVE_MAGIC``, the first host-endian u32 of a dynamic archive
_MAGIC = 0xF00BABA8
#: JDK 17 is the first with ``-XX:+RecordDynamicDumpInfo`` and ``VM.cds``
_MIN_JDK = 17
#: a dump of a full Spark session takes ~6 s on 4 vCPU
_DUMP_TIMEOUT_S = 300
#: JVM output off stdout, whose last line callers parse: unified logging
#: onto stderr, and so is the VM's own output ("Dynamic dump to file ...")
_LOG_OPTIONS = "-Xlog:all=off -Xlog:all=warning:stderr -XX:+DisplayVMOutputToStderr"
#: a recording JVM warns once per class it cannot archive (~3.8k lines
#: for a Spark session) and again at exit; none of that is actionable
_RECORD_OPTIONS = "-XX:+RecordDynamicDumpInfo -Xlog:cds*=off:stderr"
#: submit arguments that would replace or extend the driver's java
#: options or classpath behind this module's back
_SUBMIT_CONFLICTS = ("driver-java-options", "driver-class-path", "extraJavaOptions", "extraClassPath")
#: environment variables whose entries Spark's launcher adds to the classpath
_CLASSPATH_ENV = ("SPARK_DIST_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR")


class Plan:
    """How to start one driver JVM: ``java_options`` go into
    ``spark.driver.extraJavaOptions`` and ``conf_dir`` into the
    launcher's ``SPARK_CONF_DIR``. A recording plan (``recording``)
    holds the key's lock until ``dump`` runs."""

    def __init__(self, cache: str, key: str, archive: str | None, jcmd: str | None = None, lock_fd: int | None = None):
        self.cache = cache
        self.key = key
        self.archive = archive
        self.jcmd = jcmd
        self.lock_fd = lock_fd
        self.conf_dir = _empty_conf_dir(cache)
        if archive is not None:
            self.java_options = f"-XX:SharedArchiveFile={shlex.quote(archive)} {_LOG_OPTIONS}"
        else:
            self.java_options = f"{_LOG_OPTIONS} {_RECORD_OPTIONS}"

    @property
    def recording(self) -> bool:
        return self.lock_fd is not None

    def dump(self, pid: int) -> str | None:
        """Dump the classes JVM ``pid`` has loaded into this key's
        archive and release the lock; return the archive's path, or None
        when the dump failed (the key is then marked and never recorded
        again). A no-op for a plan that is not recording."""
        if not self.recording:
            return None
        tmp = os.path.join(self.cache, f".cds-{self.key}.{os.getpid()}.tmp")
        final = None
        try:
            done = subprocess.run(
                [self.jcmd, str(pid), "VM.cds", "dynamic_dump", tmp],
                stdin=subprocess.DEVNULL,
                stdout=subprocess.DEVNULL,
                stderr=subprocess.DEVNULL,
                timeout=_DUMP_TIMEOUT_S,
                check=False,
            ).returncode == 0
        except (OSError, subprocess.TimeoutExpired):
            done = False
        try:
            size = _archive_size(tmp) if done else None
            if size is not None:
                final = _archive_path(self.cache, self.key, size)
                os.replace(tmp, final)
            else:
                open(_failed_path(self.cache, self.key), "w").close()
        except OSError:
            final = None
        finally:
            _unlink(tmp)
            self.release()
        return final

    def release(self) -> None:
        """Give up recording: let another session take the key."""
        if self.lock_fd is not None:
            os.close(self.lock_fd)
            self.lock_fd = None


def cache_dir(env=os.environ) -> str:
    base = env.get("XDG_CACHE_HOME")
    if not base or not os.path.isabs(base):
        base = os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "zestdb_spark")


def plan(spark_home: str, env=os.environ) -> Plan | None:
    """The CDS plan for a new driver JVM of ``spark_home``, or None to
    start it without CDS."""
    if any(env.get(name) for name in _CLASSPATH_ENV):
        return None
    if any(c in env.get("PYSPARK_SUBMIT_ARGS", "") for c in _SUBMIT_CONFLICTS):
        return None
    if not _templates_only(env.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")):
        return None
    java_home = _java_home(env)
    jdk = _jdk_identity(java_home) if java_home else None
    if jdk is None:
        return None
    cache = cache_dir(env)
    conf_dir = _empty_conf_dir(cache)
    try:
        os.makedirs(conf_dir, exist_ok=True)
        if os.listdir(conf_dir) or not os.access(cache, os.W_OK):
            return None
        key = _key(jdk, conf_dir, os.path.join(spark_home, "jars"))
    except OSError:
        return None
    archive = _find_archive(cache, key)
    if archive is not None:
        return Plan(cache, key, archive)
    jcmd = os.path.join(java_home, "bin", "jcmd")
    if fcntl is None or not os.access(jcmd, os.X_OK) or os.path.exists(_failed_path(cache, key)):
        return None
    lock_fd = _try_lock(os.path.join(cache, f"cds-{key}.lock"))
    if lock_fd is None:
        return None
    # a recorder may have finished between the lookup and the lock
    archive = _find_archive(cache, key)
    if archive is not None:
        os.close(lock_fd)
        return Plan(cache, key, archive)
    return Plan(cache, key, None, jcmd, lock_fd)


def _empty_conf_dir(cache: str) -> str:
    return os.path.join(cache, "empty-conf")


def _archive_path(cache: str, key: str, size: int) -> str:
    return os.path.join(cache, f"cds-{key}-{size}.jsa")


def _failed_path(cache: str, key: str) -> str:
    return os.path.join(cache, f"cds-{key}.failed")


def _templates_only(conf_dir: str) -> bool:
    try:
        names = os.listdir(conf_dir)
    except FileNotFoundError:
        return True
    except OSError:
        return False
    return all(n.endswith(".template") for n in names)


def _java_home(env) -> str | None:
    """The JDK Spark's launcher runs the driver with: ``$JAVA_HOME``,
    else the one whose ``java`` is on ``PATH``."""
    if env.get("JAVA_HOME"):
        return env["JAVA_HOME"]
    java = shutil.which("java", path=env.get("PATH"))
    return os.path.dirname(os.path.dirname(os.path.realpath(java))) if java else None


def _jdk_identity(java_home: str) -> bytes | None:
    """The JDK build behind ``java_home`` (its ``release`` file and the
    size and mtime of the files an archive depends on), or None when
    that is unknown or the JDK is older than ``_MIN_JDK``."""
    try:
        with open(os.path.join(java_home, "release"), "rb") as f:
            release = f.read()
        parts = [release]
        for rel in ("lib/modules", "lib/server/libjvm.so", "lib/server/classes.jsa"):
            st = os.stat(os.path.join(java_home, rel))
            parts.append(f"{rel} {st.st_size} {st.st_mtime_ns}".encode())
    except OSError:
        return None
    m = re.search(rb'^JAVA_VERSION="(\d+)', release, re.M)
    if m is None or int(m.group(1)) < _MIN_JDK:
        return None
    return b"\n".join(parts)


def _key(jdk: bytes, conf_dir: str, jars_dir: str) -> str:
    """Hash of the JDK build and the driver classpath: the conf dir,
    then each jar's name, size and mtime in directory order (the order
    the JVM expands ``jars/*`` in)."""
    h = hashlib.sha256(jdk)
    h.update(b"\0" + os.fsencode(conf_dir))
    for name in os.listdir(jars_dir):
        st = os.stat(os.path.join(jars_dir, name))
        h.update(f"\0{name} {st.st_size} {st.st_mtime_ns}".encode())
    return h.hexdigest()[:32]


def _archive_size(path: str) -> int | None:
    """The size of the archive at ``path``, or None unless it starts
    with the dynamic-archive magic."""
    try:
        with open(path, "rb") as f:
            head = f.read(4)
            size = os.fstat(f.fileno()).st_size
    except OSError:
        return None
    if len(head) < 4 or struct.unpack("=I", head)[0] != _MAGIC:
        return None
    return size


def _find_archive(cache: str, key: str) -> str | None:
    """This key's finished archive: a ``cds-<key>-<size>.jsa`` whose
    size is the one in its name and whose magic is right."""
    prefix = f"cds-{key}-"
    try:
        names = os.listdir(cache)
    except OSError:
        return None
    for name in names:
        if name.startswith(prefix) and name.endswith(".jsa"):
            path = os.path.join(cache, name)
            size = _archive_size(path)
            if size is not None and str(size) == name[len(prefix) : -len(".jsa")]:
                return path
    return None


def _try_lock(path: str) -> int | None:
    try:
        fd = os.open(path, os.O_RDWR | os.O_CREAT, 0o644)
    except OSError:
        return None
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        os.close(fd)
        return None
    return fd


def _unlink(path: str) -> None:
    try:
        os.unlink(path)
    except OSError:
        pass
