"""Session defaults are sized from the host the job starts on."""

import json
import os
import subprocess
import sys

from pyspark.sql import functions as F

from ocr_corrector_spark import pyworker
from ocr_corrector_spark.plans.pipeline import correct_pipeline
from ocr_corrector_spark.session import host_cpus, host_driver_heap
from ocr_corrector_spark.sources.transcripts import gen_transcripts


def test_cpus_follow_the_affinity_mask():
    assert host_cpus() == len(os.sched_getaffinity(0))


def test_driver_heap_is_a_clamped_quarter_of_ram():
    total_gib = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") / 2**30
    heap = host_driver_heap()
    assert heap.endswith("g")
    gib = int(heap[:-1])
    assert 1 <= gib <= 8
    assert gib <= max(1, total_gib / 4)


def test_python_stage_runs_one_task_per_slot(spark):
    # each Python task pays a fixed worker cost, so the default shuffle
    # width — and with it the correction UDF stage — is the task slots
    slots = spark.sparkContext.defaultParallelism
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == slots
    out = correct_pipeline(gen_transcripts(spark, n_convs=60, seed=3), spark)
    # aggregate the UDF's output so Catalyst cannot prune the UDF
    parts = (
        out.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.sum(F.length("text_corrected")))
        .collect()
    )
    assert len(parts) == slots


def test_driver_jvm_runs_the_serial_collector(spark):
    # G1's committed heap grew by different amounts from run to run
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    assert [b.getName() for b in beans] == ["Copy", "MarkSweepCompact"]


def test_workers_skip_the_spark_jar_and_the_bundled_pyspark_zip(spark):
    # every task's importlib.invalidate_caches() re-reads each zipimporter's
    # archive, so neither archive may keep one in the workers
    assert spark.conf.get("spark.python.daemon.module") == pyworker.__name__

    def worker_imports(_):  # nested: pickled by value, not by test module
        import sys
        import zipimport

        import pyspark

        cache = sys.path_importer_cache.items()
        zips = [k for k, v in cache if isinstance(v, zipimport.zipimporter)]
        yield os.environ.get("SPARK_HOME"), pyspark.__file__, zips

    [(home, pyspark_file, zips)] = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(worker_imports).collect()
    )
    lib = os.path.realpath(os.path.join(home, "python", "lib"))
    bundled = os.path.join(lib, "pyspark.zip")
    same_release = (
        pyworker.bundled_pyspark_version(bundled) == pyworker.installed_pyspark_version()
    )
    assert same_release  # else the zip rightly stays and this host tests nothing
    assert not os.path.realpath(pyspark_file).startswith(lib + os.sep)
    assert zips  # the py4j zip keeps its importer
    for key in zips:
        assert ".jar" not in key
        real = os.path.realpath(key)
        assert real != bundled and not real.startswith(bundled + os.sep)


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# prints the session scripts/run_job.py runs in, as one JSON line
_JOB_SESSION = f"""
import json, runpy
s = runpy.run_path({os.path.join(REPO, "scripts", "run_job.py")!r})["job_session"]()
print(json.dumps([s.sparkContext.master,
                  s.conf.get("spark.python.daemon.module", None),
                  s.conf.get("spark.sql.shuffle.partitions")]))
s.stop()
"""


def _job_session(tmp_path, *launcher):
    script = tmp_path / "job_session.py"
    script.write_text(_JOB_SESSION)
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET", "SPARK_GRAFT_CPUS")
    }
    out = subprocess.run(
        [*launcher, str(script)], env=env, cwd=REPO, capture_output=True, text=True,
        timeout=300, check=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def test_job_started_without_a_master_runs_in_get_sparks_session(tmp_path):
    cpus = host_cpus()
    assert _job_session(tmp_path, sys.executable) == [
        f"local[{cpus}]",
        pyworker.__name__,
        str(cpus),
    ]


def test_job_under_spark_submit_keeps_the_submitted_session(tmp_path):
    submit = os.path.join(os.environ["SPARK_HOME"], "bin", "spark-submit")
    master, daemon, _ = _job_session(tmp_path, submit, "--master", "local[2]")
    assert master == "local[2]"
    assert daemon is None  # get_spark's confs were not laid over the submit
