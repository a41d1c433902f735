"""Self-run replica of the driver's correctness gate over EVERY
queries()/oracle_sql() pair, committed as evidence between driver rounds
(ADVICE r03 #3: checked-in correctness evidence must not lag the code).

Per query at sf0.01: run the Spark DataFrame and the DuckDB oracle on the
same parquet tables and record

* rows_match   — row counts equal;
* schema_match — column-name sets equal;
* hash_match   — sha256 over the column-name-sorted, row-sorted,
  STRING-serialized values.  Serialization is deliberately strict (str()
  of the raw value, floats rounded to 6 then repr'd): a DuckDB HUGEINT
  surfacing as `99111.0` against Spark's `99111` fails here exactly as it
  failed the driver's hash in CORRECTNESS_r03.

Writes BENCH/CORRECTNESS_SELF.json.  Usage:
    python scripts/self_correctness.py [sf_dir]
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
from datetime import datetime, timezone
from decimal import Decimal

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _ser(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, Decimal):
        # no numeric coercion: a HUGEINT-typed aggregate serializes as-is
        v = float(v) if v != v.to_integral_value() else v
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(round(v, 6))
    if isinstance(v, datetime):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_ser(x) for x in v) + "]"
    return str(v)


def _hash(rows, cols) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_ser(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import duckdb

    import __spark_entry__ as entry_mod
    from ocr_corrector_spark.session import get_spark

    spark = get_spark(app_name="self-correctness")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    report: dict[str, dict] = {}
    for name in sorted(queries):
        entry: dict = {
            "rows_match": None, "schema_match": None, "hash_match": None,
            "spark_rows": None, "oracle_rows": None, "err": None,
        }
        try:
            sdf = queries[name](spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
            if name not in oracles:
                entry.update(
                    spark_rows=len(s_rows),
                    rows_match=len(s_rows) >= 0,
                    err="no oracle (rows-only check)",
                )
            else:
                res = con.sql(oracles[name])
                d_cols = res.columns
                d_rows = res.fetchall()
                entry.update(
                    spark_rows=len(s_rows),
                    oracle_rows=len(d_rows),
                    rows_match=len(s_rows) == len(d_rows),
                    schema_match=sorted(s_cols) == sorted(d_cols),
                    hash_match=_hash(s_rows, s_cols) == _hash(d_rows, d_cols),
                )
        except Exception as exc:  # noqa: BLE001 — per-query isolation
            entry["err"] = f"{type(exc).__name__}: {exc}"[:300]
        report[name] = entry
        flag = "PASS" if entry["hash_match"] else "----"
        print(f"{flag} {name}: {entry}", file=sys.stderr)

    ok = sum(1 for e in report.values() if e["hash_match"])
    out = {
        "generated_utc": datetime.now(timezone.utc).isoformat(timespec="seconds"),
        "sf_dir": sf_dir,
        "cpus": spark.sparkContext.defaultParallelism,
        "n_queries": len(report),
        "n_hash_pass": ok,
        "queries": report,
    }
    path = os.path.join(REPO, "BENCH", "CORRECTNESS_SELF.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({"n_queries": len(report), "n_hash_pass": ok, "artifact": path}))
    spark.stop()


if __name__ == "__main__":
    main()
