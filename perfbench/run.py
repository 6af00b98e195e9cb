"""Closed-loop benchmark of the async_pipes_spark engine.

    python3 perfbench/run.py --workload pipes_batch --seed 1 --seconds 3 --trace 0

Run from the root of a checkout. The engine is imported from that
checkout, never from anywhere else: without it the benchmark exits
non-zero and prints no result.

One run starts Spark as ``local[<cores>]`` with the bench-only caches
off (``SPARK_GRAFT_BLOCK_CACHE`` is removed from the environment),
generates its tables from ``--seed``, repeats the workload's set-up
``SETUP_REPS`` times, warms it up, then issues operations in a closed
loop for ``--seconds`` seconds, ending on a pass boundary (so at least
one pass, whatever ``--seconds`` is). Outputs are checked
after the timed window. Every file the run writes lives under
``.perfbench_tmp/`` in the checkout and is removed at exit; a traced
run also writes its spans to ``.perfbench_out/``.

The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones (see BENCHMARK.json). The line before it holds details: sample
counts, p95 latency, error rate, peak RSS, the set-up breakdown, every
operation's latency and job count, and the cache state.

A traced run makes at least three passes: one untraced, then traced
passes (every entry point in ``trace.TRACED`` wrapped) and untraced
ones in turn. Per-layer numbers come from the traced passes; the
difference in median operation latency between the traced passes and
the later untraced ones is the tracing overhead.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import shlex
import shutil
import subprocess
import sys
import time
import traceback
from pathlib import Path
from statistics import median
from types import SimpleNamespace

ROOT = Path(__file__).resolve().parent.parent
SETUP_REPS = 3

#: per-layer span metrics: (span name, fields); every field is per
#: operation. ``s`` is self time, ``jobs`` the span's self jobs.
LAYER_FIELDS = (
    ("plans.build", ("s", "jobs")),
    ("sources.tables.load_table", ("calls", "s")),
    ("pipeline.wait", ("calls", "s", "jobs")),
    ("operators.iterate.iterate_inplace", ("calls", "s", "jobs")),
    ("collect", ("s", "jobs")),
    ("sources.sinks.mor_upsert", ("calls", "s", "jobs")),
    ("sources.sinks.read_manifest_table", ("calls", "s", "jobs")),
    ("sources.sinks.compact_small_files", ("calls", "s", "jobs")),
    ("sources.stats.write_file_stats", ("calls", "s", "jobs")),
    ("sources.stats.refresh_file_stats", ("calls", "s", "jobs")),
    ("sources.cdc.mor_changes", ("calls", "s", "jobs")),
    ("sources.ivm.refresh_agg_view", ("calls", "s", "jobs")),
    ("sources.ivm_join.refresh_join_view", ("calls", "s", "jobs")),
    ("session.pin", ("calls", "s", "jobs")),
    ("functions.dedup.minhash_signatures", ("s",)),
    ("functions.dedup.minhash_lsh_pairs", ("s",)),
    ("functions.dedup.dedup_group_labels", ("calls", "s", "jobs")),
    ("functions.similarity.embedding_near_dups", ("s", "jobs")),
)
UNITS = {"calls": "calls/op", "s": "s/op", "jobs": "jobs/op"}
#: outcome counts a workload reports from its own results (0 where a
#: workload has none): incremental / non-noop refreshes per view, and
#: near-dup pairs in the input and groups found per operation
COUNTERS = {
    "sources.ivm.incremental_ratio": "ratio",
    "sources.ivm_join.incremental_ratio": "ratio",
    "functions.dedup.pairs": "pairs",
    "functions.dedup.groups": "groups/op",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def import_engine() -> None:
    """Import the engine from this checkout or exit non-zero."""
    sys.path.insert(0, str(ROOT))
    try:
        import async_pipes_spark
    except ImportError as e:
        sys.exit(f"perfbench: cannot import async_pipes_spark from {ROOT}: {e}")
    if not Path(async_pipes_spark.__file__).resolve().is_relative_to(ROOT):
        sys.exit(f"perfbench: async_pipes_spark comes from outside {ROOT}")


def vmhwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def start_spark(tmp: Path, cores: int):
    """Spark confined to ``tmp`` for every file it writes."""
    (tmp / "spark").mkdir(parents=True)
    os.environ.pop("SPARK_GRAFT_BLOCK_CACHE", None)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)}"
        " --conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    from async_pipes_spark.session import get_spark

    return get_spark(app_name="perfbench", cpus=cores)


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit: the gateway JVM ends when its stdin closes."""
    proc = spark.sparkContext._gateway.proc
    gc.collect()  # release Java objects while the gateway still answers
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


#: passes a run makes at least, untraced and traced
MIN_PASSES = (1, 3)


def pass_kind(trace: int, n: int) -> str:
    """``plain`` or ``traced``. A traced run alternates the two after a
    first plain pass (``first``) that is left out of the comparison, so
    both kinds see the same steady state."""
    if not trace:
        return "plain"
    if n == 0:
        return "first"
    return "traced" if n % 2 else "plain"


def nearest_rank(xs: list[float], q: float) -> float:
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def run(args, tmp: Path) -> tuple[dict, dict]:
    from perfbench import data
    from perfbench.trace import OP, Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    cores = len(os.sched_getaffinity(0))

    t = time.perf_counter()
    spark = start_spark(tmp, cores)
    spark_start_s = time.perf_counter() - t
    try:
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        tracer = Tracer(spark, enabled=False)
        t = time.perf_counter()
        tables = data.generate(args.seed)
        generate_s = time.perf_counter() - t
        ctx = SimpleNamespace(spark=spark, seed=args.seed, tmp=str(tmp), tables=tables, tracer=tracer)
        wl = WORKLOADS[args.workload](ctx)
        reps = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            wl.prepare(rep)
            reps.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t
        setup_s = spark_start_s + generate_s + median(reps) + warm_s

        ops = wl.ops()
        lat, kinds, jobs, rows, failed, traced_spans = [], [], [], [], set(), []
        t0 = time.perf_counter()
        deadline = t0 + args.seconds
        passes = 0
        while passes < MIN_PASSES[args.trace] or time.perf_counter() < deadline:
            kind = pass_kind(args.trace, passes)
            tracer.enabled = kind == "traced"
            if tracer.enabled:
                tracer.install()
            for _ in range(wl.ops_per_pass):
                op = next(ops)
                mark = len(tracer.spans)
                t = time.perf_counter()
                n = 0
                try:
                    with tracer.span(OP):
                        n = op()
                except Exception:
                    traceback.print_exc()
                    failed.add(len(lat))
                lat.append(time.perf_counter() - t)
                kinds.append(kind)
                rows.append(n)
                spans = tracer.spans[mark:]
                tracer.resolve_jobs(spans)
                jobs.append(sum(s["jobs"] for s in spans))
                if tracer.enabled:
                    traced_spans += spans
            if tracer.enabled:
                tracer.uninstall()
                tracer.enabled = False
            passes += 1
        wall = time.perf_counter() - t0
        n_ops = len(lat)

        t = time.perf_counter()
        failed |= {i for i in wl.check() if 0 <= i < n_ops}
        check_s = time.perf_counter() - t
        rss = vmhwm_mb("self") + vmhwm_mb(jvm_pid)
    finally:
        stop_spark(spark)

    def of(kind: str, xs: list) -> list:
        return [x for x, k in zip(xs, kinds) if k == kind]

    p95 = nearest_rank(lat, 0.95)
    details = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "bench_only_caches": "on" if os.environ.get("SPARK_GRAFT_BLOCK_CACHE") == "1" else "off",
        "ops": n_ops,
        "passes": passes,
        "timed_wall_s": wall,
        "op_p50_samples": len(of("plain", lat)),
        "op_p95_s": p95,
        "op_p95_samples_above": sum(x > p95 for x in lat),
        "error_rate": len(failed) / n_ops,
        "peak_rss_mb": rss,
        "spark_start_s": spark_start_s,
        "generate_s": generate_s,
        "setup_reps_s": reps,
        "warm_s": warm_s,
        "check_s": check_s,
        "op_latencies_s": lat,
        "op_kinds": kinds,
        "op_jobs": jobs,
    }
    if not args.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "ops_per_s": (n_ops / wall, "1/s"),
            "op_p50_s": (median(lat), "s"),
            "jobs_per_op": (sum(jobs) / n_ops, "jobs/op"),
        }
    else:
        n_traced = len(of("traced", lat))
        metrics = layer_metrics(wl, traced_spans, n_traced, sum(of("traced", rows)) / n_traced)
        overhead = median(of("traced", lat)) - median(of("plain", lat))
        metrics["trace.overhead_s"] = (overhead, "s")
        op_wall = sum(s["wall_s"] for s in traced_spans if s["name"] == OP)
        op_self = sum(s["self_s"] for s in traced_spans if s["name"] == OP)
        metrics["trace.unattributed_share"] = (op_self / op_wall, "ratio")
        details["trace_file"] = write_trace(args, traced_spans)
    result = {
        "correct": not failed,
        "attempted": n_ops,
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return details, result


def layer_metrics(wl, spans: list[dict], n_ops: int, rows_per_op: float) -> dict:
    from perfbench.trace import OP, layer_totals

    totals = layer_totals([s for s in spans if s["name"] != OP], n_ops)
    out = {}
    for name, fields in LAYER_FIELDS:
        t = totals.get(name, {"calls": 0.0, "s": 0.0, "jobs": 0.0})
        for f in fields:
            out[f"{name}.{f}"] = (t[f], UNITS[f])
    out["collect.rows"] = (rows_per_op, "rows/op")
    counts = wl.counters()
    for name, unit in COUNTERS.items():
        out[name] = (counts.get(name, 0.0), unit)
    return out


def write_trace(args, spans: list[dict]) -> str:
    out = ROOT / ".perfbench_out"
    out.mkdir(exist_ok=True)
    path = out / f"trace-{args.workload}-seed{args.seed}.json"
    path.write_text(json.dumps({"workload": args.workload, "seed": args.seed, "spans": spans}))
    return str(path.relative_to(ROOT))


def main(argv=None) -> int:
    args = parse_args(argv)
    import_engine()
    tmp = ROOT / ".perfbench_tmp" / str(os.getpid())
    try:
        details, result = run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            tmp.parent.rmdir()
        except OSError:
            pass
    print(json.dumps(details))
    print(json.dumps(result))
    if not result["correct"]:
        print(f"perfbench: {result['failed']} of {result['attempted']} operations failed", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    sys.exit(main())
