"""Resume after a SIGKILL: ``scripts/run_job.py`` is killed at two points of
its run, then rerun with the same ``--run-id``.  Wherever the kill lands,
the rerun must reach the clean run's output and a ledger with one row per
bucket, and the killed process's driver JVM must not outlive it (the
gateway exits when its stdin, the Python driver's pipe, reaches EOF)."""

import glob
import os
import signal
import subprocess
import sys
import time
import uuid

import pyarrow.parquet as pq
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUCKETS = 8
# marks every process a job here starts, the JVMs included, by environment
TAG = "OCR_CORRECTOR_KILL_TEST"


def _start(base, tag):
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET")
    }
    env.update({TAG: tag, "SPARK_GRAFT_CPUS": "2"})
    return subprocess.Popen(
        [sys.executable, os.path.join(REPO, "scripts", "run_job.py"),
         "--output", os.path.join(base, "out"), "--audit", os.path.join(base, "ledger"),
         "--run-id", "kill", "--n-convs", "300", "--buckets", str(BUCKETS)],
        env=env, cwd=REPO, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )


def _java_tagged(tag):
    marker = f"{TAG}={tag}".encode()
    found = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                exe = f.read().split(b"\0")[0]
            with open(f"/proc/{pid}/environ", "rb") as f:
                env = f.read().split(b"\0")
        except OSError:
            continue
        if os.path.basename(exe) == b"java" and marker in env:
            found.append(int(pid))
    return found


def _java_gone(tag, timeout=120):
    deadline = time.monotonic() + timeout
    while _java_tagged(tag) and time.monotonic() < deadline:
        time.sleep(0.2)
    return _java_tagged(tag) == []


def _run(base):
    tag = uuid.uuid4().hex
    assert _start(base, tag).wait(timeout=600) == 0
    assert _java_tagged(tag) == []  # the job waits for its JVM at exit
    return _output(base)


def _output(base):
    table = pq.read_table(os.path.join(base, "out"), columns=["conv_id", "turn_idx", "text_corrected"])
    return sorted(zip(*(table.column(c).to_pylist() for c in table.column_names)))


def _ledger_partitions(ledger):
    return glob.glob(os.path.join(ledger, "run_id=*", "wave=*", "*.parquet"))


# kill points: the ledger holds its first wave (a later wave's output
# write is running), and a poll sees the ledger write's staging directory
KILL_AT = {
    "after-first-commit": _ledger_partitions,
    "during-ledger-write": lambda ledger: glob.glob(os.path.join(ledger, ".spark-staging-*")),
}


@pytest.fixture(scope="module")
def clean(tmp_path_factory):
    return _run(str(tmp_path_factory.mktemp("clean")))


@pytest.mark.parametrize("point", list(KILL_AT))
def test_killed_job_resumes_to_the_clean_run(tmp_path, clean, point):
    base, tag = str(tmp_path), uuid.uuid4().hex
    ledger = os.path.join(base, "ledger")
    proc = _start(base, tag)
    deadline = time.monotonic() + 600
    while not KILL_AT[point](ledger):
        assert proc.poll() is None, "the job ended before the kill point"
        assert time.monotonic() < deadline
        time.sleep(0.02)
    os.kill(proc.pid, signal.SIGKILL)
    assert proc.wait(timeout=60) == -signal.SIGKILL
    staged = glob.glob(os.path.join(ledger, ".spark-staging-*"))
    print(
        f"\nkill at {point}: {len(_ledger_partitions(ledger))} of {BUCKETS // 2} waves "
        f"committed, ledger staging {'left' if staged else 'gone'}"
    )
    assert _java_gone(tag), "the killed job's driver JVM outlived it"

    assert _run(base) == clean
    ledger_rows = pq.read_table(ledger, columns=["bucket", "n_rows"]).to_pylist()
    assert sorted(r["bucket"] for r in ledger_rows) == list(range(BUCKETS))
    assert sum(r["n_rows"] for r in ledger_rows) == len(clean)
