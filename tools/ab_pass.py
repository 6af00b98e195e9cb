"""One benchmark pass for the interleaved A/B harness (bench.py's
round-over-round comparability mode).

Times every contract query ONCE against the ``async_pipes_spark``
package rooted at ``--root`` (the current checkout, or a git worktree
of the previous round's commit) and prints a single JSON line
``{"root": ..., "queries": {name: sec}}`` on stdout's LAST line.

Runs in its own process so the two code versions never share a Python
interpreter or JVM; the parent (bench.py) alternates HEAD and prev
passes back-to-back, so host weather lands on both sides of every
ratio instead of on one round's record (the r7 adjudication problem:
a 1.4x apparent regression that was entirely the VM being slower that
session).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True, help="repo root to import from")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument(
        "--names",
        default="",
        help="comma-separated query subset (default: the whole contract)",
    )
    ap.add_argument(
        "--list", action="store_true",
        help="print this side's query names (no Spark, no timing) — the "
        "parent intersects both sides so each pass runs an IDENTICAL "
        "workload",
    )
    args = ap.parse_args()

    sys.path.insert(0, args.root)

    from async_pipes_spark.session import get_spark
    from async_pipes_spark.plans.declared import DECLARED_QUERIES
    from async_pipes_spark.plans.extensions import EXTENSION_QUERIES
    from async_pipes_spark.plans.joins import JOIN_QUERIES
    from async_pipes_spark.plans.relational import RELATIONAL_QUERIES

    queries = {}
    queries.update(DECLARED_QUERIES)
    queries.update(RELATIONAL_QUERIES)
    queries.update(EXTENSION_QUERIES)
    queries.update(JOIN_QUERIES)
    if args.names:
        wanted = {n for n in args.names.split(",") if n}
        # silently skip names this side doesn't have (prev may predate
        # a query; the parent ratios only shared names anyway)
        queries = {n: fn for n, fn in queries.items() if n in wanted}

    if args.list:
        print(json.dumps({"root": args.root, "names": sorted(queries)}))
        return 0

    spark = get_spark("ab-pass", cpus=args.cpus)
    # identical warmup on both sides (JVM + file listing), excluded
    DECLARED_QUERIES["p6_map_reduce"](spark, args.sf_dir).collect()

    timings: dict[str, float] = {}
    # CANONICAL intra-pass order (round-8 verdict wrong #2): both sides
    # must run the shared subset in the SAME position — dict insertion
    # order differs between HEAD and prev when a round adds queries, so
    # iterating it put e.g. k3 right after the heavy lake churn on one
    # side and after something light on the other, manufacturing
    # phantom per-family regressions. sorted() lands position bias
    # identically on both sides.
    for name in sorted(queries):
        fn = queries[name]
        t0 = time.perf_counter()
        df = fn(spark, args.sf_dir)
        rows = df.toPandas()
        timings[name] = round(time.perf_counter() - t0, 4)
        del rows
    print(json.dumps({"root": args.root, "queries": timings}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
