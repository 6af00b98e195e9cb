"""Driver-style correctness sweep: run every queries() entry (or a
named subset) on Spark and its oracle_sql() on DuckDB at a given sf
dir, compare row count + column set + order-insensitive value hash
(the conftest comparator — the same canonical form the verification
driver hashes). Usage:

    python tools/sweep.py [sf_dir] [query ...]

Set SPARK_GRAFT_SWEEP_JSON=<path> to also write the full result map as
JSON (CORRECTNESS-row shaped, plus wall seconds) — committed per round
as SWEEP_r{N}.json so every contract query carries same-round evidence
without waiting on the driver's 50-row rotation window (VERDICT r7
item 5).
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tests"))
# Python workers (UDFs) import the package too: they inherit the
# environment, not the driver's sys.path, so run from any directory
# they need the checkout on PYTHONPATH before Spark starts
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (str(REPO), os.environ.get("PYTHONPATH")) if p
)

import duckdb  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from conftest import value_hash  # noqa: E402
from async_pipes_spark.session import get_spark  # noqa: E402
from async_pipes_spark.sources.tables import TABLES  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
    names = args[1:] if args and os.path.isdir(args[0]) else args
    queries = entry.queries()
    oracles = entry.oracle_sql()
    if names:
        queries = {n: queries[n] for n in names}

    spark = get_spark("sweep", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    failures = 0
    record: dict[str, dict] = {}
    for name, fn in queries.items():
        t0 = time.perf_counter()
        try:
            df = fn(spark, sf_dir)
            srows = [tuple(r) for r in df.collect()]
            scols = df.columns
            cur = con.execute(oracles[name])
            dcols = [d[0] for d in cur.description]
            drows = cur.fetchall()
            dt = time.perf_counter() - t0
            problems = []
            if len(srows) != len(drows):
                problems.append(f"rows {len(srows)} != {len(drows)}")
            if sorted(scols) != sorted(dcols):
                problems.append(f"cols {sorted(scols)} != {sorted(dcols)}")
            if not problems and value_hash(scols, srows) != value_hash(dcols, drows):
                problems.append("value-hash mismatch")
            status = "PASS" if not problems else "FAIL " + "; ".join(problems)
            if problems:
                failures += 1
            record[name] = {
                "rows_match": len(srows) == len(drows),
                "schema_match": sorted(scols) == sorted(dcols),
                "hash_match": not problems,
                "spark_rows": len(srows),
                "oracle_rows": len(drows),
                "sec": round(dt, 2),
                "err": "; ".join(problems) or None,
            }
            print(f"{name:34s} {status}  ({len(srows)} rows, {dt:.2f}s)", flush=True)
        except Exception as e:  # noqa: BLE001
            failures += 1
            record[name] = {
                "rows_match": False,
                "schema_match": False,
                "hash_match": False,
                "spark_rows": None,
                "oracle_rows": None,
                "sec": round(time.perf_counter() - t0, 2),
                "err": f"{type(e).__name__}: {e}"[:300],
            }
            print(f"{name:34s} ERR {type(e).__name__}: {e}", flush=True)
            traceback.print_exc()
    print(f"\n{'ALL GREEN' if failures == 0 else f'{failures} FAILURES'}")
    out_json = os.environ.get("SPARK_GRAFT_SWEEP_JSON")
    if out_json:
        import json

        Path(out_json).write_text(
            json.dumps(
                {
                    "sf_dir": sf_dir,
                    "queries": len(record),
                    "failures": failures,
                    "results": record,
                },
                indent=1,
            )
            + "\n"
        )
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
