"""Session defaults are sized from the host the job starts on."""

import os

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
