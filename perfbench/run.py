#!/usr/bin/env python3
"""The repository benchmark: one batch job at a time, from one process, on
``local[nproc]``.

    python3 perfbench/run.py --workload dup_heavy --seed 1 --seconds 12 --trace 0

The measurement loop is in perfbench/harness.py and the traced layer
ladder in perfbench/layers.py.  The last line of stdout is the result
JSON; the line before it is a report with the host settings, input
fingerprints and every rep.  Without the ``ocr_corrector_spark`` package
next to ``perfbench`` it exits with status 2 and prints no result.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("dup_heavy", "unique_text")


def prepare_process() -> None:
    """Python workers import the package from the checkout and run the same
    interpreter as this process; Spark spills under ``spark.local.dir``.
    Descendants orphaned by an exiting JVM are re-parented to this process,
    which stops and reaps all of them before it prints its result."""
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    # the launcher JVM would otherwise create /tmp/hsperfdata_<user>
    os.environ["SPARK_LAUNCHER_OPTS"] = f"{os.environ.get('SPARK_LAUNCHER_OPTS', '')} -XX:-UsePerfData".strip()
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from perfbench.probes import become_subreaper

    become_subreaper()
    # a terminated run still stops the processes it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "ocr_corrector_spark")):
        print(f"perfbench: no ocr_corrector_spark package under {ROOT}", file=sys.stderr)
        return 2
    prepare_process()
    from perfbench.harness import run_benchmark
    from perfbench.probes import stop_descendants

    try:
        out = run_benchmark(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        stop_descendants()
    print(json.dumps({"report": out["report"]}, default=str))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
