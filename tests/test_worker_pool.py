"""A job's Python side is one pool of lean workers: one session that
generates transcripts, runs the default and the dedup correction plans and
one checkpointed wave starts a single ``ocr_corrector_spark.pyworker``
daemon, and no worker maps pandas.

A frame built from a Python list runs a Python job, whose workers Spark
keeps in a pool of their own; pyarrow's ``to_numpy`` and ``pa.array`` over
Python objects import pandas.  The session runs in its own process, so its
workers are the ones this test reads from ``/proc``."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SESSION = f"""
import json, os, sys
sys.path.insert(0, {REPO!r})
from pyspark.sql import functions as F
from ocr_corrector_spark.plans.checkpoint import CheckpointedRun
from ocr_corrector_spark.plans.pipeline import correct_pipeline
from ocr_corrector_spark.session import get_spark
from ocr_corrector_spark.sources.transcripts import gen_transcripts

spark = get_spark(app_name="pool", cpus=2)
df = gen_transcripts(spark, n_convs=60)
# an aggregate of text_corrected: a bare count() prunes the UDF
sums = [
    correct_pipeline(df, spark, dedup_correction=dedup)
    .agg(F.sum(F.length("text_corrected"))).collect()[0][0]
    for dedup in (False, True)
]
run = CheckpointedRun("pool", sys.argv[1] + "/out", sys.argv[1] + "/ledger", n_buckets=2)
done = run.run(spark, run.with_bucket(df), lambda d: correct_pipeline(d, spark))

procs = {{}}  # pid -> (ppid, cmdline)
for pid in filter(str.isdigit, os.listdir("/proc")):
    try:
        with open(f"/proc/{{pid}}/stat") as f:
            ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        with open(f"/proc/{{pid}}/cmdline", "rb") as f:
            procs[int(pid)] = (ppid, f.read().replace(b"\\0", b" ").decode(errors="replace"))
    except OSError:
        pass
mine = {{os.getpid()}}
while True:
    more = {{p for p, (pp, _) in procs.items() if pp in mine}} - mine
    if not more:
        break
    mine |= more
pool = {{p for p in mine if "-m ocr_corrector_spark.pyworker" in procs[p][1]}}
daemons = [p for p in pool if procs[p][0] not in pool]
workers = [p for p in pool if procs[p][0] in pool]
pandas = []
for p in workers:
    with open(f"/proc/{{p}}/maps") as f:
        if "/pandas/" in f.read():
            pandas.append(p)
print(json.dumps({{"sums": sums, "done": done, "daemons": len(daemons),
                  "workers": len(workers), "pandas": len(pandas)}}))
"""


def test_one_pool_of_workers_without_pandas(tmp_path):
    script = tmp_path / "session.py"
    script.write_text(_SESSION)
    out = subprocess.run(
        # the workers import the package from the working directory
        [sys.executable, str(script), str(tmp_path)], cwd=REPO, check=True,
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600,
    ).stdout
    got = json.loads(out.strip().splitlines()[-1])
    assert got["sums"][0] == got["sums"][1] > 0
    assert got["done"] == 2
    assert got["daemons"] == 1
    assert got["workers"] >= 1
    assert got["pandas"] == 0
