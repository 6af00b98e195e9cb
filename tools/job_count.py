"""Count the Spark JOBS one contract query launches.

    python tools/job_count.py <query> [sf_dir]

The local scheduling floor (~0.2-0.5 s/job on local[32]) makes driver
job COUNT the load-immune proxy for lifecycle-query wall clock (r12
verdict: the remaining IVM cost is job count, not data path). The
query body runs under its own job group, and the jobs are read back
through the public ``statusTracker().getJobIdsForGroup`` — exact, no
sampling. A structured stream runs its micro-batches, and the jobs its
``foreachBatch`` callback launches, under a job group of its own (the
stream's run id), and every streaming query here starts its stream in
a ``newSession()``, whose streams a listener on the query's session
never sees. So the query also runs under a job tag, which the stream
thread inherits from the thread that starts it, and the tagged jobs
are the count; the query's own group gives the split.
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
# Python workers (UDFs) import the package too: they inherit the
# environment, not the driver's sys.path, so run from any directory
# they need the checkout on PYTHONPATH before Spark starts
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (str(REPO), os.environ.get("PYTHONPATH")) if p
)

USAGE = "usage: python tools/job_count.py <query> [sf_dir]"


def main() -> int:
    import __spark_entry__ as entry

    queries = entry.queries()
    if len(sys.argv) < 2 or sys.argv[1] not in queries:
        print(USAGE, file=sys.stderr)
        print("queries: " + " ".join(sorted(queries)), file=sys.stderr)
        return 2
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"

    from async_pipes_spark.session import get_spark

    spark = get_spark("jobcount", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    try:
        queries["p6_map_reduce"](spark, sf_dir).collect()  # warm
        sc = spark.sparkContext
        group = f"job_count-{name}"
        sc.setJobGroup(group, name)
        sc.addJobTag(group)
        t0 = time.perf_counter()
        rows = queries[name](spark, sf_dir).toPandas()
        wall = time.perf_counter() - t0
        sc.removeJobTag(group)
        sc.setLocalProperty("spark.jobGroup.id", None)
        # a sentinel job in a second group: the status listener sees
        # events in order, so once it shows, every query job shows too
        sc.setJobGroup(f"{group}-sentinel", "sentinel")
        sc.parallelize([0], 1).count()
        sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = sc.statusTracker()
        while not tracker.getJobIdsForGroup(f"{group}-sentinel"):
            time.sleep(0.05)
        own = len(tracker.getJobIdsForGroup(group))
        jobs = len(sc._jsc.sc().statusTracker().getJobIdsForTag(group))
        print(
            f"{name}: {wall:.2f}s wall, {jobs} jobs ({jobs - own} in streams), "
            f"{len(rows)} rows",
            flush=True,
        )
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
