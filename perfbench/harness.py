"""The benchmark's measurement loop (see perfbench/README.md).

Set-up starts the Spark session and runs the pipeline once on a warm-up
input a quarter of the workload's size, ``SETUP_CYCLES`` times (stopping the session in between, so
every cycle starts fresh Python workers); ``setup_s`` is the median cycle.
A traced run sets up once, to stay within three minutes.
Then, until ``seconds`` of timed reps have run, each rep reads a freshly
generated input (its own seed, so the per-worker correction memo carries
over from earlier reps only ``dup_heavy``'s corpus rows, which repeat
within every rep anyway) from parquet and runs the staged
``correct_pipeline(order_output=True)`` to a collected action.  With
``trace`` the run measures the layers instead (perfbench/layers.py).
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import tempfile
import time

from ocr_corrector_spark.plans.pipeline import correct_pipeline
from ocr_corrector_spark.session import get_spark
from ocr_corrector_spark.sources.formats import read_transcripts

from .checks import Oracle, checksum, collect_output, coverage, problems
from .inputs import fingerprint, read_rows, write_input
from .layers import trace_layers
from .probes import PeakRss, host_settings, host_speed_s, subtree_cpu_s

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".bench_work")
SETUP_CYCLES = 2
WARMUP_SCALE = 0.25


class Bench:
    """One benchmark process: host settings, a private work directory
    inside the checkout, and the Spark session."""

    def __init__(self, workload: str, seed: int, scale: float, trace: bool):
        self.workload, self.seed, self.scale, self.trace = workload, seed, scale, trace
        self.host = host_settings()
        self.work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
        os.makedirs(os.path.join(self.work, "tmp"), exist_ok=True)
        # temporary files of this process, its Python workers and the JVM
        # stay inside the checkout
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        tempfile.tempdir = None
        self.spark = None
        self.oracle = Oracle()
        self._inputs = 0

    def start_session(self):
        conf = {
            "spark.driver.memory": self.host["driver_heap"],
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.defaultJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={self.work}/tmp",
            "spark.ui.enabled": "true" if self.trace else "false",
            "spark.ui.showConsoleProgress": "false",
        }
        self.spark = get_spark(app_name="perfbench", cpus=self.host["cores"], extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def new_input(self, rep_seed: int, scale: float | None = None) -> str:
        """Generate one input (untimed) and return its parquet path."""
        path = os.path.join(self.work, f"input-{self._inputs}")
        self._inputs += 1
        write_input(self.spark, self.workload, rep_seed, path, self.scale if scale is None else scale)
        return path

    def rep_seed(self, i: int) -> int:
        return self.seed * 1009 + i

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            stop_gateway()
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass  # another run's directory is still there


def stop_gateway(timeout_s: float = 30.0) -> None:
    """Ends the JVM that PySpark launched and waits for it.  The JVM exits
    by itself once its stdin closes; it is killed if it does not within
    ``timeout_s``.  It has ended before the work directory it writes to is
    removed; the next session launches a fresh JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass  # the connection is already gone; the process is what matters
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run_pipeline(spark, path: str):
    """One timed rep: parquet input to the collected output."""
    return collect_output(correct_pipeline(read_transcripts(spark, path), spark, order_output=True))


def set_up(b: Bench, cycles: int) -> dict:
    """``cycles`` x (session start + warm-up run).  The warm-up input is
    generated once, outside the timed part of the first cycle; every cycle
    starts fresh Python workers, so the warm-up outputs must agree with
    each other and with the oracle."""
    starts, warms, sums, found = [], [], set(), []
    for k in range(cycles):
        if b.spark is not None:
            b.spark.stop()
        t0 = time.perf_counter()
        spark = b.start_session()
        starts.append(time.perf_counter() - t0)
        if k == 0:
            warm_path = b.new_input(b.rep_seed(10_000), scale=b.scale * WARMUP_SCALE)
            warm_rows = read_rows(warm_path)
            expected, n_rows = b.oracle.expect(warm_rows), len(warm_rows)
        t0 = time.perf_counter()
        table = run_pipeline(spark, warm_path)
        warms.append(time.perf_counter() - t0)
        sums.add(checksum(table))
        found += problems(table, n_rows, expected)
    if len(sums) > 1:
        found.append("warm-up checksums differ between sessions")
    setup = [s + w for s, w in zip(starts, warms)]
    return {"setup_s": setup, "start_s": starts, "warmup_s": warms, "problems": found}


def timed_reps(b: Bench, seconds: float, corrupt=None) -> dict:
    """Reps until ``seconds`` of timed work; each rep checked.  ``corrupt``
    (self-test only) may alter a rep's collected output before its check."""
    reps = []
    with PeakRss() as rss:
        while not reps or sum(r["wall_s"] for r in reps) < seconds:
            path = b.new_input(b.rep_seed(len(reps)))
            rows = read_rows(path)
            expected = b.oracle.expect(rows)
            rep = {"input": fingerprint(rows), "coverage": coverage(expected)}
            del rows
            cpu0 = subtree_cpu_s()
            rss.active = True
            t0 = time.perf_counter()
            try:
                table = run_pipeline(b.spark, path)
            except Exception as e:  # a failing rep is counted, not fatal
                table, rep["problems"] = None, [f"raised {type(e).__name__}: {e}"[:500]]
            rep["wall_s"] = time.perf_counter() - t0
            rss.active = False
            rep["cpu_s"] = subtree_cpu_s() - cpu0
            if table is not None:
                if corrupt is not None:
                    table = corrupt(len(reps), table)
                rep["checksum"] = checksum(table)
                rep["problems"] = problems(table, rep["input"]["rows"], expected)
            reps.append(rep)
        peak = rss.peak
    return {"reps": reps, "peak_rss_bytes": peak}


def run_benchmark(workload: str, seed: int, seconds: float, trace: bool, scale: float = 1.0, corrupt=None) -> dict:
    """Runs one workload; returns ``{"result": ..., "report": ...}``."""
    b = Bench(workload, seed, scale, trace)
    try:
        setup = set_up(b, 1 if trace else SETUP_CYCLES)
        if trace:
            metrics, checked, report = trace_layers(b, setup)
            checked["warmup"] = setup["problems"]
            failed = sum(1 for p in checked.values() if p)
            attempted = len(checked)
            report["checked"] = checked
        else:
            out = timed_reps(b, seconds, corrupt)
            reps = out["reps"]
            # the first rep carries set-up's failures: non-deterministic or
            # wrong output on the warm-up input
            reps[0]["problems"] += setup["problems"]
            good = [r for r in reps if "checksum" in r]
            attempted, failed = len(reps), sum(1 for r in reps if r["problems"])
            rows = [r["input"]["rows"] for r in good]
            metrics = {
                "turns_per_s": (statistics.median(n / r["wall_s"] for n, r in zip(rows, good)) if good else 0.0, "turns/s"),
                "cpu_ms_per_kturn": (1e6 * sum(r["cpu_s"] for r in good) / sum(rows) if good else 0.0, "ms"),
                "setup_s": (statistics.median(setup["setup_s"]), "s"),
                "peak_rss_mb": (out["peak_rss_bytes"] / 2**20, "MB"),
            }
            report = {"reps": reps, "error_frac": failed / attempted}
        report.update(
            host_speed_s=host_speed_s(),
            workload=workload,
            seed=seed,
            host=b.host,
            setup=setup,
        )
    finally:
        b.close()
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return {"result": result, "report": report}
