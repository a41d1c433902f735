"""The driver JVM's class-data-sharing archive (ocr_corrector_spark/driver_cds.py):
dump, validation, promotion, locking and the cases where it is skipped.

Every session runs in its own Python process with ``XDG_CACHE_HOME`` set
to a temporary directory, so no test touches the host's archive."""

import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

from ocr_corrector_spark import driver_cds

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# prints what one get_spark session launched, as one JSON line
_SESSION = f"""
import json, os, sys
sys.path.insert(0, {REPO!r})
from ocr_corrector_spark.session import get_spark
before = os.environ.get("SPARK_CONF_DIR")
s = get_spark(app_name="cds", cpus=1, extra_conf={{"spark.driver.memory": "1g"}})
jvm = s._jvm
print(json.dumps({{
    "args": list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()),
    "conf": dict(s.sparkContext.getConf().getAll()),
    "conf_dir": [before, os.environ.get("SPARK_CONF_DIR")],
    "java": os.path.join(jvm.System.getProperty("java.home"), "bin", "java"),
    "class_path": jvm.System.getProperty("java.class.path"),
}}))
"""
# confs that differ between any two sessions (the warehouse lies in the
# cwd, and each session here has its own)
_PER_SESSION = (
    "spark.app.id", "spark.app.startTime", "spark.app.submitTime", "spark.driver.port",
    "spark.sql.warehouse.dir",
)
_CDS_FLAGS = ("-XX:SharedArchiveFile", "-XX:ArchiveClassesAtExit", "-Xlog:cds")


def _env(cache, **extra):
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET", "SPARK_CONF_DIR")
    }
    env["XDG_CACHE_HOME"] = str(cache)
    env.update(extra)
    return env


def _popen(tmp, cache, **extra):
    cwd = tmp / f"cwd-{len(list(tmp.glob('cwd-*')))}"
    cwd.mkdir()
    script = cwd / "session.py"
    script.write_text(_SESSION)
    proc = subprocess.Popen(
        [sys.executable, str(script)], env=_env(cache, **extra), cwd=cwd,
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    )
    return proc, cwd


def _result(proc, cwd):
    out, _ = proc.communicate(timeout=300)
    assert proc.returncode == 0
    assert not list(cwd.glob("hs_err_pid*.log"))
    return json.loads(out.strip().splitlines()[-1])


def _session(tmp, cache, **extra):
    return _result(*_popen(tmp, cache, **extra))


def _flags(result, prefix):
    return [a for a in result["args"] if a.startswith(prefix)]


def _archive_dir(cache):
    return os.path.join(cache, "ocr_corrector_spark")


def _key(cache):
    conf_dir = os.path.join(_archive_dir(cache), "empty-conf")
    return driver_cds.archive_key(driver_cds.java_binary(), driver_cds._find_spark_home(), conf_dir)


def _dead_pid():
    proc = subprocess.Popen([sys.executable, "-c", "pass"])
    proc.wait()
    return proc.pid


@pytest.fixture(scope="module")
def dumped(tmp_path_factory):
    """A first session on a cache that a killed dumper left behind: its
    lock and a garbage ``.tmp``, both under a dead pid."""
    tmp = tmp_path_factory.mktemp("cds")
    cache = tmp / "cache"
    directory = _archive_dir(cache)
    os.makedirs(directory)
    key, pid = _key(cache), _dead_pid()
    stale = os.path.join(directory, f"{key}.{pid}.tmp")
    with open(stale, "wb") as f:
        f.write(b"\x00garbage" * 4096)
    with open(os.path.join(directory, f"{key}.lock"), "w") as f:
        f.write(str(pid))
    result = _session(tmp, cache)
    return tmp, cache, key, stale, result


def test_a_dead_dumpers_files_are_cleared_and_the_new_dump_promoted(dumped):
    _, cache, key, stale, result = dumped
    directory = _archive_dir(cache)
    assert not os.path.exists(stale)
    assert _flags(result, "-XX:ArchiveClassesAtExit=")  # took the dead lock over
    assert not _flags(result, "-XX:SharedArchiveFile")
    assert sorted(os.listdir(directory)) == ["empty-conf", f"{key}.jsa"]
    assert result["conf_dir"] == [None, None]


def test_a_promoted_archive_is_mapped_and_the_conf_is_otherwise_unchanged(dumped):
    tmp, cache, key, _, _ = dumped
    mapped = _session(tmp, cache)
    jsa = os.path.join(_archive_dir(cache), f"{key}.jsa")
    assert _flags(mapped, "-XX:SharedArchiveFile=") == [f"-XX:SharedArchiveFile={jsa}"]
    assert mapped["conf_dir"] == [None, None]
    assert mapped["class_path"].split(":")[0].rstrip("/") == os.path.join(
        _archive_dir(cache), "empty-conf"
    )

    not_a_dir = tmp / "not-a-dir"  # a cache that cannot be written
    not_a_dir.write_text("")
    plain = _session(tmp, not_a_dir)
    assert not any(_flags(plain, p) for p in _CDS_FLAGS)

    def conf(result):
        c = {k: v for k, v in result["conf"].items() if k not in _PER_SESSION}
        opts = c["spark.driver.extraJavaOptions"].split()
        c["spark.driver.extraJavaOptions"] = [o for o in opts if not o.startswith(_CDS_FLAGS)]
        return c

    assert conf(mapped) == conf(plain)


def test_a_truncated_dump_is_never_promoted(dumped, tmp_path):
    _, cache, key, _, result = dumped
    full = os.path.join(_archive_dir(cache), f"{key}.jsa")
    size = os.path.getsize(full)
    other = "spark-driver-0000000000000000.jsa"  # an archive under a superseded key
    for length, promoted in ((size // 3, False), (size, True)):
        directory = tmp_path / str(length)
        directory.mkdir()
        (directory / other).write_bytes(b"")
        archive = driver_cds.Archive(str(directory), key, dump=True)
        with open(full, "rb") as src, open(archive.tmp, "wb") as dst:
            dst.write(src.read(length))
        archive.promote(result["java"], result["class_path"])
        names = sorted(os.listdir(directory))
        assert names == ([f"{key}.jsa"] if promoted else [other])


def test_a_real_conf_dir_turns_the_archive_off(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.cds.test.marker  yes\n")
    cache = tmp_path / "cache"
    result = _session(tmp_path, cache, SPARK_CONF_DIR=str(conf))
    assert not any(_flags(result, p) for p in _CDS_FLAGS)
    assert result["conf"]["spark.cds.test.marker"] == "yes"  # Spark read it
    assert result["conf_dir"] == [str(conf), str(conf)]
    assert not os.path.exists(cache)


def test_two_first_sessions_dump_once(tmp_path):
    cache = tmp_path / "cache"
    procs = [_popen(tmp_path, cache) for _ in range(2)]
    results = [_result(*p) for p in procs]
    dumps = [bool(_flags(r, "-XX:ArchiveClassesAtExit=")) for r in results]
    assert sorted(dumps) == [False, True]
    assert not any(_flags(r, "-XX:SharedArchiveFile") for r in results)
    assert sorted(os.listdir(_archive_dir(cache))) == ["empty-conf", f"{_key(cache)}.jsa"]


def test_a_cache_under_another_path_dumps_its_own_archive(tmp_path, monkeypatch):
    """The archive records the cache's empty conf dir on its class path,
    and a JVM silently declines it under another path: a cache copied to
    another ``XDG_CACHE_HOME`` keys, and dumps, an archive of its own.  A
    session that maps its key's archive deletes the other keys' archives,
    but not another key's ``.tmp`` or ``.lock``: that key may be dumping."""
    first, second = tmp_path / "first", tmp_path / "second"
    assert _key(first) != _key(second)
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    monkeypatch.setenv("XDG_CACHE_HOME", str(first))
    directory = _archive_dir(first)
    os.makedirs(os.path.join(directory, "empty-conf"))
    other = "spark-driver-0000000000000000"  # a superseded key
    for name in (f"{_key(first)}.jsa", f"{other}.jsa", f"{other}.1.tmp", f"{other}.lock"):
        open(os.path.join(directory, name), "wb").close()
    mapped = driver_cds.plan({})
    assert (mapped.key, mapped.dump) == (_key(first), False)
    assert sorted(os.listdir(directory)) == sorted(
        ["empty-conf", f"{_key(first)}.jsa", f"{other}.1.tmp", f"{other}.lock"]
    )
    shutil.copytree(first, second)
    monkeypatch.setenv("XDG_CACHE_HOME", str(second))
    copied = driver_cds.plan({})
    copied.release()
    assert (copied.key, copied.dump) == (_key(second), True)


def test_the_lock_is_the_kernels_not_a_pid(tmp_path, monkeypatch):
    """A lock file naming a live pid holds no lock: the first session takes
    it and deletes the key's leftover ``.tmp`` files, a second one finds
    it held and starts without the archive, and release leaves nothing."""
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    directory, key = _archive_dir(tmp_path), _key(tmp_path)
    os.makedirs(directory)
    with open(os.path.join(directory, f"{key}.lock"), "w") as f:
        f.write(str(os.getpid()))
    leftover = os.path.join(directory, f"{key}.1.tmp")
    open(leftover, "wb").close()
    archive = driver_cds.plan({})
    assert (archive.key, archive.dump) == (key, True)
    assert not os.path.exists(leftover)
    assert driver_cds.plan({}) is None
    archive.release()
    assert os.listdir(directory) == ["empty-conf"]


def _java_processes_under(path):
    found = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmdline = f.read().decode(errors="replace")
        except OSError:
            continue
        if str(path) in cmdline:
            found.append((pid, cmdline.replace("\0", " ")[:200]))
    return found


def _job(tmp, cache, name):
    out = tmp / name
    job = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "run_job.py"),
         "--output", str(out / "out"), "--audit", str(out / "audit"),
         "--run-id", "cds", "--n-convs", "20", "--buckets", "2"],
        env=_env(cache, SPARK_GRAFT_CPUS="2"), cwd=REPO, check=True, timeout=600,
        stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True,
    )
    # a job's first run finds no ledger, and says nothing about it
    assert "FileNotFoundException" not in job.stderr
    # the JVM writes its archive at exit: the job returns after it has ended
    assert _java_processes_under(cache) == []
    table = pq.read_table(str(out / "out"))
    return table.sort_by([("conv_id", "ascending"), ("turn_idx", "ascending")]).to_pylist()


def test_the_first_job_waits_for_its_dump_and_the_second_maps_it(tmp_path):
    cache = tmp_path / "cache"
    first = _job(tmp_path, cache, "first")
    jsa = os.path.join(_archive_dir(cache), f"{_key(cache)}.jsa")
    assert sorted(os.listdir(_archive_dir(cache))) == ["empty-conf", os.path.basename(jsa)]
    mtime = os.stat(jsa).st_mtime_ns
    second = _job(tmp_path, cache, "second")
    assert os.stat(jsa).st_mtime_ns == mtime  # mapped, not dumped again
    assert len(first) > 0
    assert first == second
