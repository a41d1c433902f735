#!/usr/bin/env python3
"""Self-test of the benchmark (about two minutes on four cores).

    python3 perfbench/selftest.py

1. The output checks flag a missing row, out-of-order keys and a turn
   that differs from the oracle (no Spark).
2. A tiny untraced run whose first rep's output is corrupted reports every
   end-to-end metric BENCHMARK.json names and counts that rep as failed.
3. A tiny traced run reports every per-layer metric and passes its checks.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.run import prepare_process  # noqa: E402

TINY = 0.02


def _fail(msg: str) -> None:
    print(f"selftest FAILED: {msg}", file=sys.stderr)
    sys.exit(1)


def check_problems() -> None:
    import pyarrow as pa

    from perfbench.checks import problems

    expected = {("c1", 1): {"text": "t", "corr": "fixed"}}

    def table(keys, corr):
        return pa.table(
            {
                "conv_id": [k[0] for k in keys],
                "turn_idx": [k[1] for k in keys],
                "h": [0] * len(keys),
                "s_text": ["t" if k == ("c1", 1) else None for k in keys],
                "s_corr": [corr if k == ("c1", 1) else None for k in keys],
            }
        )

    good = [("c0", 5), ("c1", 1), ("c1", 2)]
    if problems(table(good, "fixed"), 3, expected):
        _fail("a correct output was flagged")
    cases = {
        "missing row": (table(good[:2], "fixed"), 3),
        "order": (table([good[1], good[0], good[2]], "fixed"), 3),
        "oracle": (table(good, "wrong"), 3),
    }
    for name, (t, n) in cases.items():
        if not problems(t, n, expected):
            _fail(f"{name} not flagged")


def corrupt_first_rep(rep: int, table):
    """Changes one sampled turn's correction in rep 0's output."""
    import pyarrow as pa

    if rep != 0:
        return table
    corr = table.column("s_corr").to_pylist()
    i = next(i for i, c in enumerate(corr) if c is not None)
    corr[i] += "*"
    return table.set_column(table.schema.get_field_index("s_corr"), "s_corr", pa.array(corr, pa.string()))


def main() -> int:
    from perfbench.probes import stop_descendants

    try:
        return selftest()
    finally:
        stop_descendants()


def selftest() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    prepare_process()
    from perfbench.harness import run_benchmark

    check_problems()

    out = run_benchmark("dup_heavy", 1, 0.1, False, scale=TINY, corrupt=corrupt_first_rep)["result"]
    names = {m["name"] for m in spec["end_to_end"]}
    if set(out["metrics"]) != names:
        _fail(f"untraced metrics {sorted(out['metrics'])} != {sorted(names)}")
    if out["correct"] or out["failed"] != 1 or out["attempted"] != 1:
        _fail(f"corrupted rep not counted: {out}")

    out = run_benchmark("unique_text", 1, 0.1, True, scale=TINY)["result"]
    names = {m["name"] for m in spec["per_layer"]}
    if set(out["metrics"]) != names:
        _fail(f"traced metrics differ from BENCHMARK.json: {sorted(set(out['metrics']) ^ names)}")
    if not out["correct"]:
        _fail(f"traced run failed its checks: {out}")
    print("selftest ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
