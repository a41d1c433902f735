"""Class-data sharing for the driver JVM that ``session.get_spark`` launches.

A cold driver JVM spends seconds loading and verifying Spark's classes
from its jars, at session start and again at the first query.  JDK 17's
dynamic AppCDS archive holds those classes pre-parsed: the JVM maps it
instead of loading them (perfbench's cold cycle on a 4-core host:
session start 7.9 → 4.0 s, first pipeline 8.5 → 6.0 s).

The archive is a host cache, built on the host by the JVM itself:

* it lives in ``${XDG_CACHE_HOME:-~/.cache}/ocr_corrector_spark/`` as
  ``<key>.jsa``, where the key names the JDK, Spark's jar set and the
  cache's own path;
* the first session launched without one dumps it
  (``-XX:ArchiveClassesAtExit``) to ``<key>.<pid>.tmp`` when its JVM exits
  (about 15 s more at exit, about 170 MB);
* at interpreter exit the launching process closes the JVM's stdin, waits
  for the dump, and promotes the file to ``<key>.jsa`` only if a
  ``java -Xshare:on`` probe maps it (a truncated archive aborts the JVM
  that maps it, even under the default ``-Xshare:auto``); otherwise the
  file is deleted;
* every later session maps the promoted file (``-XX:SharedArchiveFile``).

One process dumps per key at a time: it holds an exclusive ``flock`` on
``<key>.lock`` until its dump is promoted or dropped, and a session that
finds the lock held starts without the archive.  The kernel drops the
lock when its holder exits, however it exits, so the process that takes
it deletes the key's leftover ``.tmp`` files.  A promote, and a session
that maps its key's archive, delete the other keys' archives (never their
``.tmp`` or ``.lock`` files): a cache holds one.  Deleting the directory
resets all of it.

CDS refuses a class path that holds a non-empty directory, and
spark-submit puts the conf dir first on it.  So the archive is used only
when the effective conf dir (``$SPARK_CONF_DIR``, default
``$SPARK_HOME/conf``) holds nothing but ``*.template`` files — Spark then
reads no config file from it — and the JVM is launched with
``SPARK_CONF_DIR`` pointing at an empty directory in the cache.  A session
starts without any of this when the conf dir holds another file, when a
JVM is already up (an active or stopped context, or a spark-submit
gateway), when the caller passes its own driver JVM options or class path,
when the cache cannot be written, and on any error here.

Every JVM launched here is also waited for at interpreter exit (bounded
by ``EXIT_WAIT_S``), so no driver JVM outlives the process that started it.
"""

from __future__ import annotations

import atexit
import contextlib
import fcntl
import hashlib
import os
import shutil
import subprocess
from dataclasses import dataclass

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home

# without these the dump logs one line per class it skips (thousands of
# "Skipping ...: Signed JAR" lines)
QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"
EXIT_WAIT_S = 120.0
PROBE_WAIT_S = 60.0
# confs that make the caller the owner of the driver JVM's command line
# (a class path of its own would also be baked into the archive)
_CALLER_OWNED = ("spark.driver.extraJavaOptions", "spark.driver.extraClassPath")
_EMPTY_CONF = "empty-conf"


def cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "ocr_corrector_spark")


def java_binary() -> str | None:
    """The ``java`` spark-submit launches: ``$JAVA_HOME/bin/java``, else
    the one on ``PATH`` (``bin/spark-class``'s rule)."""
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else shutil.which("java")


def archive_key(java: str, spark_home: str, conf_dir: str) -> str:
    """Names the JDK (its binary, VM library and release file) and the
    jar set in ``$SPARK_HOME/jars``, each by path, size and mtime, and the
    empty conf dir by path: the archive records the class path it was
    dumped with, and a JVM silently declines it under another one (a
    cache copied to, or reached under, another ``XDG_CACHE_HOME``)."""
    java = os.path.realpath(java)
    jdk = os.path.dirname(os.path.dirname(java))
    parts = [conf_dir]
    for path in (java, os.path.join(jdk, "lib", "server", "libjvm.so"), os.path.join(jdk, "release")):
        if os.path.exists(path):
            st = os.stat(path)
            parts.append(f"{path} {st.st_size} {st.st_mtime_ns}")
    for entry in sorted(os.scandir(os.path.join(spark_home, "jars")), key=lambda e: e.name):
        st = entry.stat()
        parts.append(f"{entry.name} {st.st_size} {st.st_mtime_ns}")
    return "spark-driver-" + hashlib.sha256("\n".join(parts).encode()).hexdigest()[:16]


def _unlink(path: str) -> None:
    with contextlib.suppress(FileNotFoundError):
        os.unlink(path)


def _take_lock(directory: str, key: str) -> int | None:
    """A descriptor holding the exclusive ``flock`` on ``<key>.lock``, or
    None when another process holds it.  Whoever held it before has exited
    or given it up, so the key's ``.tmp`` files are leftovers: they are
    deleted.  A holder unlinks the lock file before it closes it; a lock
    taken on a file unlinked meanwhile is given back."""
    path = os.path.join(directory, key + ".lock")
    fd = os.open(path, os.O_CREAT | os.O_WRONLY, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        if os.path.samestat(os.fstat(fd), os.stat(path)):
            for name in os.listdir(directory):
                if name.startswith(key + ".") and name.endswith(".tmp"):
                    _unlink(os.path.join(directory, name))
            return fd
    except OSError:
        pass
    os.close(fd)
    return None


@dataclass
class Archive:
    """The archive one launch uses: ``dump`` when its JVM writes the
    archive at exit, else it maps ``jsa``.  ``lock`` is the descriptor
    holding the key's lock while this process dumps."""

    directory: str
    key: str
    dump: bool
    lock: int | None = None

    def _path(self, suffix: str) -> str:
        return os.path.join(self.directory, self.key + suffix)

    @property
    def jsa(self) -> str:
        return self._path(".jsa")

    @property
    def tmp(self) -> str:
        return self._path(f".{os.getpid()}.tmp")

    @property
    def conf_dir(self) -> str:
        return os.path.join(self.directory, _EMPTY_CONF)

    @property
    def java_opts(self) -> str:
        flag = f"-XX:ArchiveClassesAtExit={self.tmp}" if self.dump else f"-XX:SharedArchiveFile={self.jsa}"
        return f"{flag} {QUIET}"

    def release(self) -> None:
        """Drop this process's ``.tmp`` and give up the lock (when it dumps)."""
        if self.dump:
            _unlink(self.tmp)
        if self.lock is not None:
            _unlink(self._path(".lock"))
            os.close(self.lock)
            self.lock = None

    def promote(self, java: str | None, class_path: str | None) -> None:
        """After the dumping JVM has exited: ``.tmp`` → ``.jsa`` if a JVM
        maps it under ``-Xshare:on`` with the dumping JVM's class path,
        and the other keys' archives are deleted; otherwise the ``.tmp``
        is deleted."""
        try:
            if java and os.path.exists(self.tmp) and _maps(java, self.tmp, class_path, self.directory):
                os.replace(self.tmp, self.jsa)
                _drop_other_archives(self.directory, self.key)
        finally:
            self.release()


def _drop_other_archives(directory: str, key: str) -> None:
    """Delete every other key's ``.jsa``; another key's ``.tmp`` and
    ``.lock`` belong to a process that may still be dumping it."""
    for name in os.listdir(directory):
        if name.startswith("spark-driver-") and name.endswith(".jsa") and name != key + ".jsa":
            _unlink(os.path.join(directory, name))


def _maps(java: str, archive: str, class_path: str, directory: str) -> bool:
    """A JVM maps ``archive`` under ``-Xshare:on`` and exits 0 (0.2 s);
    a truncated archive aborts it (134), a mismatched one is refused (1).
    Its crash log goes to ``directory``, not the cwd, and it writes no
    ``hsperfdata`` file."""
    err = os.path.join(directory, f"hs_err_probe_{os.getpid()}.log")
    try:
        return (
            subprocess.run(
                [java, "-Xshare:on", f"-XX:SharedArchiveFile={archive}", f"-XX:ErrorFile={err}",
                 "-XX:-UsePerfData", *QUIET.split(), "-cp", class_path, "-version"],
                stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                cwd=directory, timeout=PROBE_WAIT_S,
            ).returncode
            == 0
        )
    except (OSError, subprocess.TimeoutExpired):
        return False
    finally:
        _unlink(err)


def plan(extra_conf: dict) -> Archive | None:
    """The archive a session launching a new driver JVM uses, or None
    where CDS cannot apply.  Never raises."""
    try:
        if any(k in extra_conf for k in _CALLER_OWNED):
            return None
        spark_home = _find_spark_home()
        conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
        if os.path.isdir(conf) and not all(n.endswith(".template") for n in os.listdir(conf)):
            return None
        java = java_binary()
        if not java:
            return None
        directory = cache_dir()
        empty = os.path.join(directory, _EMPTY_CONF)
        os.makedirs(empty, exist_ok=True)
        if os.listdir(empty) or not os.access(directory, os.W_OK):
            return None
        key = archive_key(java, spark_home, empty)
        if os.path.isfile(os.path.join(directory, key + ".jsa")):
            _drop_other_archives(directory, key)
            return Archive(directory, key, dump=False)
        lock = _take_lock(directory, key)
        if lock is not None:
            return Archive(directory, key, dump=True, lock=lock)
    except Exception:
        pass
    return None


@contextlib.contextmanager
def _env(name: str, value: str):
    """``os.environ[name] = value`` while PySpark copies the environment
    into spark-submit's, restored afterwards."""
    old = os.environ.get(name)
    os.environ[name] = value
    try:
        yield
    finally:
        if old is None:
            os.environ.pop(name, None)
        else:
            os.environ[name] = old


def get_or_create(builder, java_opts: str, extra_conf: dict):
    """``builder.getOrCreate()``, launching the driver JVM with the
    archive where it applies.  ``java_opts`` are the driver JVM options
    the builder already holds; the archive's are appended to them.  A
    launch with the archive that fails is retried as a plain one."""
    launching = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
    archive = plan(extra_conf) if launching else None
    if archive is None:
        spark = builder.getOrCreate()
    else:
        try:
            with _env("SPARK_CONF_DIR", archive.conf_dir):
                spark = builder.config(
                    "spark.driver.extraJavaOptions", f"{java_opts} {archive.java_opts}"
                ).getOrCreate()
        except Exception:
            archive.release()
            if not archive.dump:
                _unlink(archive.jsa)
            archive = None
            spark = builder.config("spark.driver.extraJavaOptions", java_opts).getOrCreate()
    proc = getattr(SparkContext._gateway, "proc", None) if launching else None
    if proc is None:
        if archive is not None:
            archive.release()
        return spark
    java = class_path = None
    if archive is not None and archive.dump:
        with contextlib.suppress(Exception):
            system = spark.sparkContext._jvm.System
            java = os.path.join(system.getProperty("java.home"), "bin", "java")
            class_path = system.getProperty("java.class.path")
    atexit.register(_await_exit, os.getpid(), proc, archive, java, class_path)
    return spark


def _await_exit(owner: int, proc: subprocess.Popen, archive, java, class_path) -> None:
    """At interpreter exit: end the driver JVM (it exits when its stdin
    closes), wait for it — and for its dump — then promote the dump."""
    if os.getpid() != owner:
        return  # a forked child exiting; the JVM is its parent's
    try:
        if proc.poll() is None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(EXIT_WAIT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    finally:
        if archive is not None and archive.dump:
            archive.promote(java, class_path)
