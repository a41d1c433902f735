"""SparkSession factory with the engine's scale-oriented defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from . import driver_cds, pyworker


def _java_opts(cpus: int) -> str:
    """Driver-JVM GC options, width-aware.

    On a wide local[] JVM the Java 17 G1 defaults size the GC worker pool
    from the MACHINE's core count (~5/8 · cores), so every young-gen pause
    spins ~20 GC threads against 32 already-busy task threads —
    measured 0.51 s GC at local[8] vs 5.92 s at local[32] on the identical
    job (BENCH/SCALING_DIAGNOSIS.md).  Capping the GC pool to a fraction
    of the TASK width (not the machine width) keeps collection cost
    proportional to the work.  On a real cluster each executor JVM is
    narrow and per-node G1 defaults are fine; this knob matters only for
    a single wide local[] JVM.  A caller that wants other options passes
    ``spark.driver.extraJavaOptions`` in ``get_spark``'s ``extra_conf``,
    which is applied last.
    """
    gc_threads = max(2, min(8, cpus // 2))
    return (
        f"-XX:ParallelGCThreads={gc_threads} "
        f"-XX:ConcGCThreads={max(1, gc_threads // 4)}"
    )


def host_cpus() -> int:
    """Cores this process may run on (the affinity mask, as ``nproc``
    counts them — not the machine's core count)."""
    return len(os.sched_getaffinity(0))


def host_driver_heap() -> str:
    """A quarter of physical memory, clamped to 1–8 GiB: room for the
    driver JVM while leaving the rest to the Python workers."""
    total = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{max(1, min(8, total // (4 * 2**30)))}g"


def get_spark(
    app_name: str = "ocr_corrector_spark",
    cpus: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """local[cpus] session with AQE + Arrow enabled.

    Defaults fit the host the job starts on: ``cpus`` from the affinity
    mask and a driver heap of a quarter of RAM (1–8g); the
    ``SPARK_GRAFT_CPUS`` / ``SPARK_GRAFT_DRIVER_MEM`` env vars override
    them.  On a real cluster the same confs apply (drop the master); AQE
    handles runtime skew-join splitting and partition coalescing, Arrow
    batches bound Python-worker memory for the UDF stage.

    ``spark.sql.shuffle.partitions`` is one partition per core: the
    ordering shuffle sets the task count of the Python UDF stage, and
    range partitioning already balances the rows, so tasks beyond the
    task slots add no parallelism.  What they do add is per-task cost
    that no row pays for: scheduling, shipping the UDF and its broadcast
    config, and one Arrow stream each way.  ``extra_conf`` is applied
    last, so it overrides this or any other conf set here.

    Python workers start from ``pyworker`` (``spark.python.daemon.module``),
    which takes Spark's jar and, when it is the installed PySpark's
    release, the bundled ``pyspark.zip`` off the workers' path.  Stock
    workers re-read both archives at every task start, because PySpark
    calls ``importlib.invalidate_caches()`` there (0.14–0.32 s per task on
    a 4-core host).  The workers import ``pyworker`` from the package, as
    they already must for its UDFs, so the package has to be importable
    from the driver's working directory or ``PYTHONPATH``.

    The driver JVM starts from a class-data-sharing archive of Spark's
    classes (``driver_cds``): a host cache in
    ``${XDG_CACHE_HOME:-~/.cache}/ocr_corrector_spark/``, keyed by the JDK,
    Spark's jar set and the cache's path.  The first session writes it,
    once, when its JVM exits (about 15 s more at exit, about 170 MB),
    holding a kernel lock meanwhile: sessions that start then go without
    it.  The process waits for the dump at interpreter exit and keeps the
    archive only if a JVM maps it, replacing any archive of another key.
    Every later session maps it: in perfbench's cold cycle on a 4-core
    host, session start 7.9 → 4.0 s and the first pipeline 8.5 → 6.0 s.
    It is skipped when the Spark conf dir holds any file but
    ``*.template``, when ``extra_conf`` sets
    ``spark.driver.extraJavaOptions`` or ``spark.driver.extraClassPath``,
    when a JVM is already up, and when the cache cannot be written.
    Deleting the directory resets it.  Every JVM this starts is waited
    for at interpreter exit, so none outlives the process.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or host_cpus())
    java_opts = _java_opts(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # cap Arrow batch size so Python-worker memory stays bounded
        # regardless of input partition size
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or host_driver_heap(),
        )
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", pyworker.__name__)
    )
    extra_conf = extra_conf or {}
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    return driver_cds.get_or_create(builder, java_opts, extra_conf)
