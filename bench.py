"""Benchmark harness: runs the declared headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Timing is per-query wall-clock of plan construction + full result
materialization to the driver via Arrow (``toPandas`` — the analogue of
the DuckDB baseline's ``fetchall``), with a warm session — Spark
startup is excluded, matching BASELINE.md's methodology.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

REPO = Path(__file__).resolve().parent


def _mor_depth_series(spark, sf_dir: str) -> dict[str, float]:
    """Read latency of one manifest table at merge-on-read backlog
    depths {0, 4, 16} (best-of-3 full materializations each): the
    tracked number for the keep/contested resolver — the untouched
    base rides a broadcast anti-join, so a backlogged read should cost
    roughly the compacted read plus O(backlog), NOT a full-table
    shuffle per read. Depth 0 is measured AFTER a compaction of the
    16-delta state, so all three depths read the same logical rows."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from async_pipes_spark.functions.money import cents
    from async_pipes_spark.sources.sinks import (
        compact_small_files,
        mor_upsert,
        read_manifest_table,
        write_manifest_table,
    )
    from async_pipes_spark.sources.tables import load_table

    base = tempfile.mkdtemp(prefix="mor_depth_")
    path = f"{base}/t"
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", cents("c_acctbal").alias("bal_cents"),
        F.lit(0).cast("long").alias("ver"),
    )
    write_manifest_table(spark, cust, path)

    def read_best() -> float:
        best = None
        for _ in range(3):
            t0 = time.perf_counter()
            rows = read_manifest_table(spark, path).toPandas()
            dt = time.perf_counter() - t0
            del rows
            best = dt if best is None else min(best, dt)
        return round(best, 4)

    out: dict[str, float] = {}
    depth = 0
    for target in (4, 16):
        while depth < target:
            depth += 1
            mor_upsert(
                spark, path,
                cust.where(F.col("c_custkey") % 97 == depth % 97).select(
                    "c_custkey", "bal_cents",
                    F.lit(depth).cast("long").alias("ver"),
                ),
                ["c_custkey"], version_cols=["ver"],
            )
        out[f"d{target}"] = read_best()
    compact_small_files(spark, path)
    out["d0"] = read_best()
    shutil.rmtree(base, ignore_errors=True)
    return out


def _ab_vs_parent(
    sf_dir: str, cpus: int, head_timings: dict[str, float] | None = None
) -> dict | None:
    """Interleaved A/B against the parent commit (``HEAD~1``) — the ONE
    way to make commit-over-commit perf a signal instead of host weather
    (r7's headline read 1.4x slower than r6 on untouched code; an
    idle-machine re-run proved the host was simply slower that
    session). Method: check out ``HEAD~1`` in a git
    worktree, then alternate full-suite passes HEAD↔prev, each in its
    own subprocess/JVM (tools/ab_pass.py), so whatever the machine is
    doing lands on BOTH sides of every ratio.

    DECISION-GRADE aggregation (round-10 verdict wrong #2/#3 — three
    same-round r9 runs read suite_ratio 0.876/0.971/1.397, so best-of
    point ratios are not a signal): per-family PAIRED ratios (each
    pass pair ran back-to-back) reported as median + [min, max] spread
    across >=3 pass pairs, judged against an INLINE same-code control
    band — the pooled pairwise family ratios WITHIN each side (head
    pass i vs head pass j times the same code, ditto prev), whose
    spread is what this host's weather does to identical code right
    now. A family is FLAGGED only when its entire paired-ratio spread
    falls outside the control band; everything else is weather by the
    record's own evidence. The control band is embedded in the emitted
    block, so a single artifact self-adjudicates; with fewer than 2
    completed pairs no ratios are emitted at all (a point ratio would
    be noise presented as signal).

    Returns None (and the record omits the section) when there is no
    parent commit or the worktree can't be created — never
    fails the bench. Knobs: SPARK_GRAFT_AB=0 disables;
    SPARK_GRAFT_AB_PASSES (default 3) pass pairs."""
    if os.environ.get("SPARK_GRAFT_AB", "1") == "0":
        return None

    def git(*args: str) -> str:
        return subprocess.run(
            ["git", "-C", str(REPO), *args],
            check=True, capture_output=True, text=True,
        ).stdout.strip()

    try:
        prev = git("rev-parse", "--verify", "--quiet", "HEAD~1")
    except (subprocess.CalledProcessError, FileNotFoundError):
        return None  # root commit: nothing to compare against
    wt = REPO / ".ab_prev"
    try:
        if wt.exists():
            subprocess.run(
                ["git", "-C", str(REPO), "worktree", "remove", "--force", str(wt)],
                capture_output=True,
            )
        git("worktree", "add", "--detach", str(wt), prev)
    except subprocess.CalledProcessError:
        return None
    try:
        passes = max(1, int(os.environ.get("SPARK_GRAFT_AB_PASSES", "3")))
        # scope: 'hot' (default) times only the queries whose
        # ``head_timings`` measurement cleared SPARK_GRAFT_AB_MIN_SEC
        # (default 0.5 s; since r12 the A/B runs FIRST on the quiet
        # host, so head_timings is the previous round's committed
        # BENCH_FULL.json rather than this run's serial numbers) —
        # the HEAD-vs-HEAD control showed sub-second single-query
        # ratios are weather no matter how they're measured, and
        # dropping them shrinks a pass enough that BOTH alternating
        # passes fit the budget (the full-contract pass pair overran
        # it at sf0.1, degraded to a single pass, and single-pass
        # ratios are position noise in both directions — 12x swings on
        # identical code); 'full' times every query
        scope = os.environ.get("SPARK_GRAFT_AB_SCOPE", "hot")
        # IDENTICAL WORKLOAD on both sides (round-9 adjudication): the
        # hot set derives from HEAD's timings, so it includes queries
        # NEW this round that prev silently skips — HEAD passes then
        # run minutes more work than prev passes, and that asymmetric
        # heat lands on the shared queries around them (r9's first A/B
        # read mm1 6.9x / r13 7.3x while the full bench read both
        # flat). Intersect with prev's names so every pass runs the
        # same queries in the same sorted order; new queries have
        # nothing to compare against anyway.
        prev_names: set[str] | None = None
        try:
            lp = subprocess.run(
                [sys.executable, str(REPO / "tools" / "ab_pass.py"),
                 "--root", str(wt), "--list"],
                capture_output=True, text=True, timeout=300,
            )
            if lp.returncode == 0:
                prev_names = set(
                    json.loads(lp.stdout.strip().splitlines()[-1])["names"]
                )
        except Exception:
            prev_names = None
        names_arg: list[str] = []
        shared_all = (
            sorted(set(head_timings) & prev_names)
            if head_timings and prev_names is not None
            else sorted(prev_names or [])
        )
        if scope != "full" and head_timings:
            floor = float(os.environ.get("SPARK_GRAFT_AB_MIN_SEC", "0.5"))
            hot = sorted(n for n, t in head_timings.items() if t >= floor)
            if prev_names is not None:
                hot = [n for n in hot if n in prev_names]
                if not hot:
                    # every hot query is new this round: fall back to
                    # the full shared list rather than omitting --names
                    # (which would re-create the asymmetric-workload
                    # heat the intersection exists to remove)
                    hot = shared_all
            if hot:
                names_arg = ["--names", ",".join(hot)]
        elif prev_names is not None:
            # 'full' scope also intersects with prev's names so both
            # sides still run the identical workload
            if shared_all:
                names_arg = ["--names", ",".join(shared_all)]
        # wall-clock budget so the A/B degrades (fewer passes) instead
        # of blowing the driver's bench window; at least one complete
        # HEAD+prev pair always runs
        budget = float(os.environ.get("SPARK_GRAFT_AB_BUDGET_SEC", "2400"))
        t_start = time.perf_counter()
        runs: dict[str, list[dict[str, float]]] = {"head": [], "prev": []}
        for i in range(passes):
            elapsed = time.perf_counter() - t_start
            if i > 0 and elapsed * (i + 1) / i > budget:
                break  # projected total over budget: settle for done pairs
            # alternate which side runs first: the second runner of a
            # back-to-back pair inherits a warmer OS page cache and a
            # quieter host (a 1-pass probe measured family-clustered
            # 2-5x "regressions" on IDENTICAL code from position alone);
            # alternation lands each position on both sides equally
            order = (("head", REPO), ("prev", wt))
            pair: dict[str, dict[str, float]] = {}
            for side, root in order if i % 2 == 0 else order[::-1]:
                proc = subprocess.run(
                    [
                        sys.executable, str(REPO / "tools" / "ab_pass.py"),
                        "--root", str(root),
                        "--sf-dir", sf_dir, "--cpus", str(cpus),
                        *names_arg,
                    ],
                    capture_output=True, text=True, timeout=3600,
                )
                if proc.returncode != 0:
                    # prev may predate a query/module this pass needs;
                    # an A/B that can't run both sides reports nothing
                    # rather than a one-sided number
                    return {"prev_commit": prev[:12], "error": "pass failed",
                            "detail": proc.stderr.strip()[-300:]}
                line = proc.stdout.strip().splitlines()[-1]
                pair[side] = json.loads(line)["queries"]
            runs["head"].append(pair["head"])
            runs["prev"].append(pair["prev"])
        done_passes = len(runs["head"])
        out = {
            "prev_commit": prev[:12],
            "passes": done_passes,
            "scope": scope,
        }
        if done_passes < 2:
            # a single pass pair cannot carry a same-code control band,
            # and a point ratio without one is noise presented as
            # signal (three r9 same-code runs spanned 0.876-1.397) —
            # REFUSE to emit ratios rather than emit unadjudicated ones
            out["error"] = (
                "fewer than 2 completed pass pairs: no control band, "
                "no ratios emitted; raise SPARK_GRAFT_AB_BUDGET_SEC"
            )
            return out

        def med(vals: list[float]) -> float:
            s = sorted(vals)
            n = len(s)
            return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2

        shared = set(runs["head"][0])
        for side in ("head", "prev"):
            for r in runs[side]:
                shared &= set(r)

        def fam_totals(r: dict[str, float]) -> dict[str, float]:
            fams: dict[str, float] = {}
            for name in shared:
                fam = name.split("_", 1)[0]
                fams[fam] = fams.get(fam, 0.0) + r[name]
            return fams

        fh = [fam_totals(r) for r in runs["head"]]
        fp = [fam_totals(r) for r in runs["prev"]]
        fams = sorted(fh[0]) if fh else []
        # paired A/B family ratios: pass i's head against pass i's prev
        # (they ran back-to-back, sharing the host's state)
        paired = {
            fam: [fh[i][fam] / fp[i][fam] for i in range(done_passes)
                  if fp[i][fam] > 0]
            for fam in fams
        }
        # inline same-code control: pairwise family ratios WITHIN one
        # side — identical code, different passes — pooled over both
        # sides and both directions. This is what the host's weather
        # does to a true ratio of 1.0, measured in this very record.
        control: list[float] = []
        for side_runs in (fh, fp):
            for i in range(done_passes):
                for j in range(i + 1, done_passes):
                    for fam in fams:
                        a, b = side_runs[i][fam], side_runs[j][fam]
                        if a > 0 and b > 0:
                            control.extend((a / b, b / a))
        control.sort()
        if control:
            k = max(0, int(len(control) * 0.025))
            band = [round(control[k], 3), round(control[-1 - k], 3)]
        else:
            band = None
        medians = {fam: round(med(rs), 3) for fam, rs in paired.items() if rs}
        spreads = {
            fam: [round(min(rs), 3), round(max(rs), 3)]
            for fam, rs in paired.items() if rs
        }
        flagged = {
            fam: {"median": medians[fam], "spread": spreads[fam]}
            for fam in medians
            if band is not None
            and (spreads[fam][0] > band[1] or spreads[fam][1] < band[0])
        }
        suite = [
            sum(r[n] for n in shared) / sum(p[n] for n in shared)
            for r, p in zip(runs["head"], runs["prev"])
            if sum(p[n] for n in shared) > 0
        ]
        out.update(
            suite_ratio=round(med(suite), 3) if suite else None,
            suite_spread=(
                [round(min(suite), 3), round(max(suite), 3)] if suite else None
            ),
            control_band=band,
            control_note=(
                f"2.5/97.5 pct of {len(control)} same-code pairwise family "
                "ratios from this record's own passes; only families whose "
                "whole paired spread clears it are flagged"
            ),
            flagged=flagged,
            ratio_vs_prev=medians,
            ratio_spread=spreads,
            new_queries=sorted(
                set().union(*(set(r) for r in runs["head"]))
                - set().union(*(set(r) for r in runs["prev"]))
            ),
        )
        return out
    finally:
        subprocess.run(
            ["git", "-C", str(REPO), "worktree", "remove", "--force", str(wt)],
            capture_output=True,
        )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # every timed run builds its plan and collects its query/centroid
    # blocks afresh, as a user's call does; table loads need no gate:
    # sources.tables memoizes schemas by file identity, so a rewrite
    # is always seen. The prepared-plan pass below times execution
    # alone.

    from async_pipes_spark.session import get_spark
    from async_pipes_spark.plans.declared import DECLARED_QUERIES
    from async_pipes_spark.plans.extensions import EXTENSION_QUERIES
    from async_pipes_spark.plans.joins import JOIN_QUERIES
    from async_pipes_spark.plans.relational import RELATIONAL_QUERIES

    spark = get_spark("async-pipes-spark-bench", cpus=cpus)

    queries = {}
    queries.update(DECLARED_QUERIES)
    queries.update(RELATIONAL_QUERIES)
    queries.update(EXTENSION_QUERIES)
    queries.update(JOIN_QUERIES)

    # interleaved A/B vs the parent commit runs FIRST, on the
    # quiet start of the bench window (r11 verdict item 7: the serial
    # suite pass heats the host and contaminated the per-query movers
    # it was supposed to adjudicate — mm4/a1/g2 read 2-3x in r11's
    # serial numbers while their PAIRED ratios sat at 0.95-1.28). The
    # hot set comes from the last committed BENCH_FULL.json
    # instead of this run's timings; a missing/unreadable record falls
    # back to the full shared list (identical workload either way).
    # Never fails the bench.
    prev_timings: dict[str, float] | None = None
    try:
        prev_full = json.loads((REPO / "BENCH_FULL.json").read_text())
        prev_timings = {
            k: float(v) for k, v in prev_full.get("queries", {}).items()
        }
    except Exception:  # noqa: BLE001
        prev_timings = None
    try:
        ab = _ab_vs_parent(sf_dir, cpus, head_timings=prev_timings)
    except Exception as e:  # noqa: BLE001
        ab = {"error": f"{type(e).__name__}: {e}"[:300]}

    # warm the JVM + file listing once (excluded from timings)
    queries["p6_map_reduce"](spark, sf_dir).collect()

    def gc_quiesce():
        # drop JVM garbage outside the timed window so a stray full GC
        # doesn't land inside a query measurement
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass

    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))
    # extensions: best-of-3 minimum — at runs=2 sub-second extension
    # queries are noise-dominated (the r4 audit observed ±40% swings on
    # identical code), making round-over-round comparison meaningless
    ext_runs = max(runs, 3)
    # the declared suite is the BASELINE.md-comparable headline; give it
    # extra repetitions — best-of-N over sub-second queries is
    # noise-bound (JIT/GC/host load land differently run to run: best-of-3
    # measured 4.2-5.6s for the same build where best-of-5 converges to
    # ~4.0s), and the extra ~30s keeps the headline stable between rounds
    declared_runs = int(os.environ.get("SPARK_GRAFT_BENCH_DECLARED_RUNS", str(runs + 5)))
    timings: dict[str, float] = {}
    for name, fn in queries.items():
        best = None
        for _ in range(declared_runs if name in DECLARED_QUERIES else ext_runs):
            gc_quiesce()
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            rows = df.toPandas()
            dt = time.perf_counter() - t0
            del rows
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 4)

    # prepared-plan pass (reported alongside, not the headline): build
    # each declared DataFrame ONCE, time only repeated execution. This
    # isolates Spark's fixed per-query planning cost (~55 ms of py4j +
    # Catalyst analysis per query at this scale — amortized to nothing
    # on real 100 TB queries, but a third of each sub-second benchmark
    # query here; DuckDB's parse+plan on the same queries is <1 ms, so
    # the full-wall-clock comparison charges Spark that gap 15 times)
    prepared: dict[str, float] = {}
    for name, fn in DECLARED_QUERIES.items():
        df = fn(spark, sf_dir)
        best = None
        for _ in range(declared_runs):
            gc_quiesce()
            t0 = time.perf_counter()
            rows = df.toPandas()
            dt = time.perf_counter() - t0
            del rows
            best = dt if best is None else min(best, dt)
        prepared[name] = round(best, 4)

    # merge-on-read serving cost vs backlog depth (round-8 verdict
    # item 7): read latency at {0, 4, 16} outstanding deltas on one
    # customer-scale table — the number the keep/contested resolver is
    # accountable for (backlogged reads should sit within ~2x of the
    # compacted read, not grow with the base). Never fails the bench.
    try:
        mor_depth = _mor_depth_series(spark, sf_dir)
    except Exception as e:  # noqa: BLE001
        mor_depth = {"error": f"{type(e).__name__}: {e}"[:300]}

    # headline value = the BASELINE.md-comparable declared suite;
    # extension operators (no DuckDB baseline exists for them) are
    # reported alongside
    declared_total = round(sum(timings[q] for q in DECLARED_QUERIES), 4)
    ext_total = round(sum(t for q, t in timings.items() if q not in DECLARED_QUERIES), 4)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf_dir
    full = {
        "queries": timings,
        "metric": "declared_query_suite_wall_clock",
        "unit": "sec",
        "sf": sf_val,
        "extensions_sec": ext_total,
        "declared_prepared_sec": round(sum(prepared.values()), 4),
        "declared": {q: timings[q] for q in DECLARED_QUERIES},
        "value": declared_total,
        "mor_read_sec": mor_depth,
    }
    if ab is not None:
        full["ab"] = ab
    print(json.dumps(full))
    # persist the untruncated record next to this file: the driver keeps
    # only the last ~2000 chars of stdout, and the full-name line above
    # is ~3x that — BENCH_FULL.json is the complete per-round artifact
    # for round-over-round comparison (the r5/r6 verdicts were blind on
    # ~30 extension timings that fell off the recorded tail)
    full_path = Path(__file__).resolve().parent / "BENCH_FULL.json"
    try:
        full_path.write_text(json.dumps(full, indent=1) + "\n")
    except OSError:
        pass  # read-only checkout: stdout still carries everything
    # FINAL line: a compact record that fits the driver's 2000-char tail
    # whole — every query timed, keyed by its unique family code (the
    # prefix before the first underscore: p1..p9, r1..r16, d1..d12, ...)
    # so no family's number is ever truncated out of the round record
    compact = {
        "metric": "declared_query_suite_wall_clock",
        "unit": "sec",
        "sf": sf_val,
        "value": declared_total,
        "extensions_sec": ext_total,
        "declared_prepared_sec": round(sum(prepared.values()), 4),
        "mor_read_sec": mor_depth,
        "full": "BENCH_FULL.json",
        "queries": {
            name.split("_", 1)[0]: round(t, 3) for name, t in timings.items()
        },
    }
    if ab is not None and "ratio_vs_prev" in ab:
        # the compact ab block is SELF-ADJUDICATING: the control band
        # rides along, and only control-clearing families appear —
        # per-family medians/spreads live in BENCH_FULL.json
        compact["ab"] = {
            "prev": ab["prev_commit"][:7],
            "suite_ratio": ab["suite_ratio"],
            "suite_spread": ab["suite_spread"],
            "control_band": ab["control_band"],
            "flagged": ab["flagged"],
        }
    elif ab is not None:
        compact["ab"] = {k: ab[k] for k in ("prev_commit", "error") if k in ab}
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:  # degrade resolution before letting the tail cut
        compact["queries"] = {
            k: round(v, 2) for k, v in compact["queries"].items()
        }
        if "ab" in compact and "flagged" in compact["ab"]:
            # keep suite + control + the 5 most-moved flagged families
            moved = sorted(
                compact["ab"]["flagged"].items(),
                key=lambda kv: abs(kv[1]["median"] - 1.0),
                reverse=True,
            )[:5]
            compact["ab"]["flagged"] = dict(sorted(moved))
        line = json.dumps(compact, separators=(",", ":"))
    # stop every streaming query AND the session BEFORE the record line
    # prints: a Structured-Streaming StateStore maintenance WARN landing
    # after the JSON made BENCH_r08 "parsed": null for the driver — the
    # record must be the genuinely last thing on stdout
    try:
        for q in spark.streams.active:
            q.stop()
    except Exception:  # noqa: BLE001 — teardown must never eat the record
        pass
    spark.stop()
    print(line, flush=True)


if __name__ == "__main__":
    main()
