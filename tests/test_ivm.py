"""Incremental view maintenance (`sources/ivm.py`): every refresh of a
materialized GROUP-BY view must read exactly the full recompute —
across random upsert/delete interleavings, dead/reborn groups, NULL
group keys and NULL aggregate inputs, compaction folding the cursor,
crashed refreshes, and concurrent source writers — while the algebraic
path provably never opens a source BASE file."""

from __future__ import annotations

import random
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from async_pipes_spark.sources.ivm import (
    IVM_DEL,
    create_agg_view,
    optimize_agg_view,
    read_agg_view,
    refresh_agg_view,
)
from async_pipes_spark.sources.sinks import (
    compact_small_files,
    mor_upsert,
    read_table,
    write_manifest_table,
)

from tests.conftest import jobs_launched

SCHEMA = "k int, g int, x double, ver int, dead boolean"
AGGS = {
    "sx": ("sum", "x"),
    "n": ("count", "*"),      # deliberately named to collide with any
    "nx": ("count", "x"),     # sloppy internal `_*_n` bookkeeping name
    "mn": ("min", "x"),
    "mx": ("max", "x"),
}
ALG_AGGS = {k: v for k, v in AGGS.items() if v[0] in ("sum", "count")}


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="ivm_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _mk_source(spark, path, n=40, groups=4):
    rows = [(i, i % groups, float(i), 0, False) for i in range(n)]
    write_manifest_table(
        spark, spark.createDataFrame(rows, SCHEMA), path
    )


def _upsert(spark, path, rows):
    mor_upsert(
        spark, path, spark.createDataFrame(rows, SCHEMA), ["k"],
        version_cols=["ver"], tombstone_col="dead",
    )


def _expected(spark, src):
    live = read_table(spark, src).where(
        ~F.coalesce(F.col("dead"), F.lit(False))
    )
    out = live.groupBy("g").agg(
        F.sum("x").alias("sx"),
        F.count(F.lit(1)).alias("n"),
        F.count("x").alias("nx"),
        F.min("x").alias("mn"),
        F.max("x").alias("mx"),
    )
    return {
        r["g"]: (r["sx"], r["n"], r["nx"], r["mn"], r["mx"])
        for r in out.collect()
    }


def _got(spark, view, names=("sx", "n", "nx", "mn", "mx")):
    return {
        r["g"]: tuple(r[c] for c in names)
        for r in read_agg_view(spark, view).collect()
    }


def test_create_matches_full_group_by(spark, tmpdir):
    src, view = f"{tmpdir}/src", f"{tmpdir}/view"
    _mk_source(spark, src)
    st = create_agg_view(spark, src, view, ["g"], AGGS,
                         src_tombstone_col="dead")
    assert st["cursor"] is None and st["seq"] == 0
    assert _got(spark, view) == _expected(spark, src)


def test_incremental_refresh_equals_recompute(spark, tmpdir):
    """Updates that move rows between groups, a delete, an insert into
    a brand-new group — one incremental refresh lands all of it."""
    src, view = f"{tmpdir}/src", f"{tmpdir}/view"
    _mk_source(spark, src)
    create_agg_view(spark, src, view, ["g"], AGGS, src_tombstone_col="dead")
    _upsert(spark, src,
            [(i, 7, float(i * 10), 1, False) for i in range(5)]
            + [(5, 2, 0.0, 1, True), (100, 9, None, 1, False)])
    s = refresh_agg_view(spark, view)
    assert s["mode"] == "incremental" and s["deltas_consumed"] == 1
    assert _got(spark, view) == _expected(spark, src)
    # caught up: the next refresh is a no-op and commits nothing
    assert refresh_agg_view(spark, view)["mode"] == "noop"


def test_dead_group_tombstones_and_revives(spark, tmpdir):
    src, view = f"{tmpdir}/src", f"{tmpdir}/view"
    _mk_source(spark, src, n=6, groups=3)
    create_agg_view(spark, src, view, ["g"], AGGS, src_tombstone_col="dead")
    # kill group 2 entirely (keys 2 and 5)
    _upsert(spark, src, [(2, 2, None, 1, True), (5, 2, None, 1, True)])
    refresh_agg_view(spark, view)
    assert 2 not in _got(spark, view)
    assert _got(spark, view) == _expected(spark, src)
    # the dead group survives as a filtered tombstone row, then revives
    # with fresh aggregates (nothing leaks from its previous life)
    raw = read_table(spark, view)
    assert raw.where(F.col(IVM_DEL)).count() == 1
    _upsert(spark, src, [(50, 2, 3.5, 2, False)])
    refresh_agg_view(spark, view)
    assert _got(spark, view)[2] == (3.5, 1, 1, 3.5, 3.5)
    assert _got(spark, view) == _expected(spark, src)


def test_sum_null_semantics_restored(spark, tmpdir):
    """SQL SUM over an all-NULL group is NULL, not 0 — deleting the
    last non-null value must bring NULL back (the hidden non-null
    counter's whole job)."""
    src, view = f"{tmpdir}/src", f"{tmpdir}/view"
    write_manifest_table(
        spark,
        spark.createDataFrame(
            [(1, 0, 5.0, 0, False), (2, 0, None, 0, False)], SCHEMA
        ),
        src,
    )
    create_agg_view(spark, src, view, ["g"], ALG_AGGS,
                    src_tombstone_col="dead")
    _upsert(spark, src, [(1, 0, None, 1, True)])  # delete the 5.0 row
    refresh_agg_view(spark, view)
    assert _got(spark, view, names=tuple(ALG_AGGS))[0] == (None, 1, 0)
    assert refresh_agg_view(spark, view)["mode"] == "noop"


def test_null_group_keys_are_groups(spark, tmpdir):
    src, view = f"{tmpdir}/src", f"{tmpdir}/view"
    write_manifest_table(
        spark,
        spark.createDataFrame(
            [(1, None, 1.0, 0, False), (2, None, 2.0, 0, False),
             (3, 1, 3.0, 0, False)], SCHEMA
        ),
        src,
    )
    create_agg_view(spark, src, view, ["g"], AGGS, src_tombstone_col="dead")
    _upsert(spark, src, [(4, None, 10.0, 1, False),
                         (3, None, 30.0, 1, False)])
    refresh_agg_view(spark, view)
    assert _got(spark, view) == _expected(spark, src)
    assert None in _got(spark, view)


def test_algebraic_refresh_opens_no_base_files(spark, tmpdir):
    """The 100 TB contract: with bloom sidecars on the source key, a
    sum/count refresh over insert-only changes reads ONLY delta files
    — zero base files, however large the base — on BOTH the first
    (uncursored) refresh and the cursored steady state."""
    from async_pipes_spark.sources.stats import write_file_bloom

    src, view = f"{tmpdir}/src", f"{tmpdir}/view"
    _mk_source(spark, src, n=200)
    write_file_bloom(spark, src, ["k"])
    create_agg_view(spark, src, view, ["g"], ALG_AGGS,
                    src_tombstone_col="dead")

    def base_files_of(s):
        src_files = [f for f in s["feed_input_files"] if f"{src}/" in f]
        assert src_files, s["feed_input_files"]
        return [f for f in src_files if "/_data/v_" in f]

    _upsert(spark, src, [(1000, 1, 4.0, 1, False),
                         (1001, 2, 5.0, 1, False)])
    s = refresh_agg_view(spark, view, collect_stats=True)
    assert s["mode"] == "incremental" and not s["minmax_recompute"]
    assert not base_files_of(s), base_files_of(s)
    # cursored steady state: the consumed prefix stays in the backlog,
    # and the pruned contested plan must still hold
    _upsert(spark, src, [(1002, 0, 6.0, 1, False)])
    s2 = refresh_agg_view(spark, view, collect_stats=True)
    assert s2["mode"] == "incremental"
    assert not base_files_of(s2), base_files_of(s2)
    assert _got(spark, view, names=tuple(ALG_AGGS)) == {
        g: v[:3] for g, v in _expected(spark, src).items()
    }


def test_minmax_recompute_touches_affected_groups_only(spark, tmpdir):
    """Deleting the max holder of one group forces a recompute — the
    recomputed slice is semi-joined on the affected groups, and the
    untouched groups' stored rows are not rewritten."""
    src, view = f"{tmpdir}/src", f"{tmpdir}/view"
    _mk_source(spark, src, n=40, groups=4)
    create_agg_view(spark, src, view, ["g"], AGGS, src_tombstone_col="dead")
    # group 3's max is 39 — delete it; its min is 3 — delete it too
    _upsert(spark, src, [(39, 3, None, 1, True), (3, 3, None, 1, True)])
    s = refresh_agg_view(spark, view)
    assert s["minmax_recompute"]
    assert _got(spark, view) == _expected(spark, src)
    # untouched groups kept their create-time rows (seq 0): only the
    # affected group's row was rewritten at seq 1
    raw = read_table(spark, view)
    assert raw.where((F.col("g") != 3) & (F.col("_ivm_seq") > 0)).count() == 0
    assert raw.where((F.col("g") == 3) & (F.col("_ivm_seq") == 1)).count() == 1


def test_source_compaction_falls_back_full(spark, tmpdir):
    src, view = f"{tmpdir}/src", f"{tmpdir}/view"
    _mk_source(spark, src)
    create_agg_view(spark, src, view, ["g"], AGGS, src_tombstone_col="dead")
    _upsert(spark, src, [(500, 1, 1.5, 1, False)])
    refresh_agg_view(spark, view)
    _upsert(spark, src, [(501, 2, 2.5, 2, False)])
    compact_small_files(spark, src)  # new base; cursor folded away
    s = refresh_agg_view(spark, view)
    assert s["mode"] == "full" and s["reason"] == "source-base-moved"
    assert _got(spark, view) == _expected(spark, src)
    assert refresh_agg_view(spark, view)["mode"] == "noop"


def test_compaction_of_caught_up_source_is_not_a_noop(spark, tmpdir):
    """The trap the base token exists for: cursor is None (view was
    caught up when the source had no backlog), then an upsert lands
    AND a compaction folds it into a fresh base before the next
    refresh. The backlog is empty again — a delta-count check would
    say 'no changes' and silently lose the upsert forever."""
    src, view = f"{tmpdir}/src", f"{tmpdir}/view"
    _mk_source(spark, src)
    create_agg_view(spark, src, view, ["g"], AGGS, src_tombstone_col="dead")
    _upsert(spark, src, [(42, 1, 1000.0, 1, False)])
    compact_small_files(spark, src)
    s = refresh_agg_view(spark, view)
    assert s["mode"] == "full" and s["reason"] == "source-base-moved"
    assert _got(spark, view) == _expected(spark, src)
    assert _got(spark, view)[1][0] is not None  # the 1000.0 landed


def test_cow_merge_on_source_is_seen(spark, tmpdir):
    """A copy-on-write merge_upsert writes a new base with no backlog
    at all — the refresh must notice through the base token."""
    from async_pipes_spark.sources.sinks import merge_upsert

    src, view = f"{tmpdir}/src", f"{tmpdir}/view"
    _mk_source(spark, src)
    create_agg_view(spark, src, view, ["g"], AGGS, src_tombstone_col="dead")
    merge_upsert(
        spark, src,
        spark.createDataFrame([(7, 2, 777.0, 1, False)], SCHEMA),
        ["k"], version_cols=["ver"], tombstone_col="dead",
    )
    s = refresh_agg_view(spark, view)
    assert s["mode"] == "full" and s["reason"] == "source-base-moved"
    assert _got(spark, view) == _expected(spark, src)


def test_view_state_drift_falls_back_full(spark, tmpdir):
    """An out-of-band commit to the view (here: a compaction not run
    through optimize_agg_view — the same signature a crashed refresh
    leaves) must NOT be trusted for incremental arithmetic."""
    src, view = f"{tmpdir}/src", f"{tmpdir}/view"
    _mk_source(spark, src)
    create_agg_view(spark, src, view, ["g"], AGGS, src_tombstone_col="dead")
    _upsert(spark, src, [(600, 0, 6.0, 1, False)])
    refresh_agg_view(spark, view)
    compact_small_files(spark, view)  # out-of-band
    _upsert(spark, src, [(601, 1, 7.0, 2, False)])
    s = refresh_agg_view(spark, view)
    assert s["mode"] == "full" and s["reason"] == "view-state-drift"
    assert _got(spark, view) == _expected(spark, src)


def test_crashed_refresh_never_double_applies(spark, tmpdir):
    """Simulate the crash window: the view delta committed but the
    cursor write was lost (restore the PRE-refresh state file). The
    next refresh must detect the seq drift and full-recompute — a
    naive re-apply would double-add the sums."""
    from async_pipes_spark.sources.ivm import _read_state, _write_state

    src, view = f"{tmpdir}/src", f"{tmpdir}/view"
    _mk_source(spark, src)
    create_agg_view(spark, src, view, ["g"], AGGS, src_tombstone_col="dead")
    before = _read_state(spark, view)
    _upsert(spark, src, [(700, 0, 100.0, 1, False)])
    refresh_agg_view(spark, view)
    _write_state(spark, view, before)  # "crash": cursor write lost
    s = refresh_agg_view(spark, view)
    assert s["mode"] == "full" and s["reason"] == "view-state-drift"
    assert _got(spark, view) == _expected(spark, src)


def test_optimize_agg_view_keeps_incremental_lane(spark, tmpdir):
    src, view = f"{tmpdir}/src", f"{tmpdir}/view"
    _mk_source(spark, src)
    create_agg_view(spark, src, view, ["g"], AGGS, src_tombstone_col="dead")
    for i in range(3):
        _upsert(spark, src, [(800 + i, i, float(i), 1, False)])
        refresh_agg_view(spark, view)
    optimize_agg_view(spark, view)
    assert _got(spark, view) == _expected(spark, src)
    _upsert(spark, src, [(900, 1, 9.0, 2, False)])
    s = refresh_agg_view(spark, view)
    assert s["mode"] == "incremental"  # NOT drift — optimize re-armed
    assert _got(spark, view) == _expected(spark, src)


def test_concurrent_source_writer_between_refreshes(spark, tmpdir):
    """A delta landing after the refresh snapshotted the backlog is
    neither leaked nor skipped: with the until-bound this reduces to
    'every delta is consumed exactly once across refreshes'."""
    src, view = f"{tmpdir}/src", f"{tmpdir}/view"
    _mk_source(spark, src)
    create_agg_view(spark, src, view, ["g"], ALG_AGGS,
                    src_tombstone_col="dead")
    _upsert(spark, src, [(1, 1, 11.0, 1, False)])
    _upsert(spark, src, [(2, 2, 22.0, 1, False)])
    s1 = refresh_agg_view(spark, view)
    assert s1["deltas_consumed"] == 2
    _upsert(spark, src, [(3, 0, 33.0, 1, False)])
    s2 = refresh_agg_view(spark, view)
    assert s2["deltas_consumed"] == 1
    assert _got(spark, view, names=tuple(ALG_AGGS)) == {
        g: v[:3] for g, v in _expected(spark, src).items()
    }


def test_randomized_model_parity(spark, tmpdir):
    """Seeded random program of upserts / deletes / group moves /
    compactions / refreshes: after every refresh the view equals the
    full GROUP BY — the IVM twin of the manifest model net."""
    rng = random.Random(0xC0FFEE)
    src, view = f"{tmpdir}/src", f"{tmpdir}/view"
    _mk_source(spark, src, n=30, groups=5)
    create_agg_view(spark, src, view, ["g"], AGGS, src_tombstone_col="dead")
    ver = 1
    for step in range(8):
        for _ in range(rng.randint(1, 2)):
            batch = []
            for _ in range(rng.randint(1, 6)):
                k = rng.randint(0, 45)
                g = rng.choice([None] + list(range(6)))
                x = rng.choice([None, float(rng.randint(-20, 99))])
                dead = rng.random() < 0.25
                batch.append((k, g, x, ver, dead))
            _upsert(spark, src, batch)
            ver += 1
        if rng.random() < 0.25:
            compact_small_files(spark, src)
        if rng.random() < 0.2:
            optimize_agg_view(spark, view)
        refresh_agg_view(spark, view)
        assert _got(spark, view) == _expected(spark, src), f"step {step}"


def test_validation_errors(spark, tmpdir):
    src, view = f"{tmpdir}/src", f"{tmpdir}/view"
    _mk_source(spark, src, n=4)
    with pytest.raises(ValueError, match="unsupported aggregate"):
        create_agg_view(spark, src, view, ["g"], {"a": ("median", "x")})
    with pytest.raises(ValueError, match="group_cols is required"):
        create_agg_view(spark, src, view, [], {"a": ("sum", "x")})
    with pytest.raises(ValueError, match="not in source"):
        create_agg_view(spark, src, view, ["g"], {"a": ("sum", "nope")})
    with pytest.raises(ValueError, match="collides"):
        create_agg_view(spark, src, view, ["g"], {"g": ("sum", "x")})
    # a typo'd or tombstone-referencing predicate is a friendly
    # ValueError at create, not a raw AnalysisException at first use
    # (r10 ADVICE)
    with pytest.raises(ValueError, match="filter_expr does not analyze"):
        create_agg_view(spark, src, view, ["g"], {"a": ("sum", "x")},
                        filter_expr="no_such_col > 1")
    with pytest.raises(ValueError, match="filter_expr does not analyze"):
        create_agg_view(spark, src, view, ["g"], {"a": ("sum", "x")},
                        src_tombstone_col="dead", filter_expr="dead = false")
    with pytest.raises(ValueError, match="not an IVM view"):
        refresh_agg_view(spark, f"{tmpdir}/nothing")


def test_tombstone_spec_drift_raises(spark, tmpdir):
    """A backlog written with a different tombstone column than the
    view records would silently count dead rows — refuse it."""
    src, view = f"{tmpdir}/src", f"{tmpdir}/view"
    _mk_source(spark, src)
    create_agg_view(spark, src, view, ["g"], ALG_AGGS)  # no tombstone
    _upsert(spark, src, [(1, 1, 1.0, 1, False)])  # spec says "dead"
    with pytest.raises(ValueError, match="tombstone spec drifted"):
        refresh_agg_view(spark, view)


def test_minmax_fast_path_skips_source_entirely(spark, tmpdir):
    """The steady-state IVM property for non-invertible aggregates:
    when no removed value touches a stored extreme — or an added value
    absorbs it — min/max are maintained from the feed alone
    (minmax_recompute False) and still match the full recompute."""
    src, view = f"{tmpdir}/src", f"{tmpdir}/view"
    _mk_source(spark, src, n=40, groups=4)  # group g: x in {g, g+4, ...}
    create_agg_view(spark, src, view, ["g"], AGGS, src_tombstone_col="dead")
    # interior update: group 1's extremes are 1 and 37; key 17 (x=17)
    # moves to x=18.5 — neither removed nor added value is an extreme
    _upsert(spark, src, [(17, 1, 18.5, 1, False)])
    s = refresh_agg_view(spark, view)
    assert s["mode"] == "incremental" and not s["minmax_recompute"], s
    assert _got(spark, view) == _expected(spark, src)
    # absorbing insert: a new max above group 2's current 38
    _upsert(spark, src, [(900, 2, 99.5, 1, False)])
    s2 = refresh_agg_view(spark, view)
    assert not s2["minmax_recompute"], s2
    assert _got(spark, view) == _expected(spark, src)
    # a brand-new group derives min/max from its own inserts
    _upsert(spark, src, [(901, 9, -3.0, 1, False),
                         (902, 9, 7.0, 1, False)])
    s3 = refresh_agg_view(spark, view)
    assert not s3["minmax_recompute"], s3
    assert _got(spark, view)[9][3:] == (-3.0, 7.0)
    assert _got(spark, view) == _expected(spark, src)
    # and only removing an extreme holder forces the recompute lane
    _upsert(spark, src, [(39, 3, None, 2, True)])  # group 3's max dies
    s4 = refresh_agg_view(spark, view)
    assert s4["minmax_recompute"], s4
    assert _got(spark, view) == _expected(spark, src)


def test_minmax_refresh_job_count(spark, tmpdir):
    """An incremental min/max refresh reads its needy-group count from
    the pin of the merged frame (observed, no job of its own), and the
    feed it folds infers no schema and collects no delta keys for a
    sidecar-less source: 9 jobs without a recompute and 18 with one
    (15 and 24 with a limit(1).count() probe, the delta dir's schema
    inferred and the delta keys collected)."""
    src, view = f"{tmpdir}/src", f"{tmpdir}/view"
    _mk_source(spark, src, n=40, groups=4)
    create_agg_view(spark, src, view, ["g"], AGGS, src_tombstone_col="dead")
    s: dict = {}
    _upsert(spark, src, [(100, 1, 50.0, 1, False)])
    jobs = jobs_launched(spark, lambda: s.update(refresh_agg_view(spark, view)))
    assert s["mode"] == "incremental" and not s["minmax_recompute"], s
    assert jobs <= 9, jobs
    _upsert(spark, src, [(39, 3, None, 2, True)])  # group 3's max dies
    jobs = jobs_launched(spark, lambda: s.update(refresh_agg_view(spark, view)))
    assert s["mode"] == "incremental" and s["minmax_recompute"], s
    assert jobs <= 18, jobs
    assert _got(spark, view) == _expected(spark, src)


def test_partitioned_source_view(spark, tmpdir):
    """IVM over the PARTITIONED manifest flavor: the pinned state is
    the live generation, refreshes ride the same feed, and a
    generation-changing verb downgrades safely."""
    from async_pipes_spark.sources.sinks import (
        write_partitioned_manifest_table,
    )

    src, view = f"{tmpdir}/src", f"{tmpdir}/view"
    rows = [(i, i % 3, float(i), 0, False) for i in range(24)]
    write_partitioned_manifest_table(
        spark, spark.createDataFrame(rows, SCHEMA), src, ["g"]
    )
    create_agg_view(spark, src, view, ["g"], AGGS, src_tombstone_col="dead")
    assert _got(spark, view) == _expected(spark, src)
    # rows moving BETWEEN partitions (g is the partition col)
    _upsert(spark, src, [(0, 2, 50.0, 1, False), (7, 0, None, 1, True)])
    s = refresh_agg_view(spark, view)
    assert s["mode"] == "incremental"
    assert _got(spark, view) == _expected(spark, src)
    compact_small_files(spark, src)
    s2 = refresh_agg_view(spark, view)
    assert s2["mode"] == "full" and s2["reason"] == "source-base-moved"
    assert _got(spark, view) == _expected(spark, src)


def test_every_base_moving_verb_downgrades_safely(spark, tmpdir):
    """z-order, tombstone purge, and RESTORE all publish a different
    base version — each must land the view on the full-recompute lane
    and end row-exact, never silently stale or double-applied."""
    from async_pipes_spark.sources.sinks import (
        manifest_versions,
        optimize_zorder,
        purge_tombstones,
        restore_manifest_table,
    )

    src, view = f"{tmpdir}/src", f"{tmpdir}/view"
    _mk_source(spark, src)
    create_agg_view(spark, src, view, ["g"], AGGS, src_tombstone_col="dead")

    _upsert(spark, src, [(3, 1, None, 1, True)])  # a tombstone to purge
    refresh_agg_view(spark, view)

    optimize_zorder(spark, src, ["k"])
    s = refresh_agg_view(spark, view)
    assert s["mode"] == "full" and s["reason"] == "source-base-moved", s
    assert _got(spark, view) == _expected(spark, src)

    purge_tombstones(spark, src, tombstone_col="dead")
    s2 = refresh_agg_view(spark, view)
    assert s2["mode"] == "full" and s2["reason"] == "source-base-moved", s2
    assert _got(spark, view) == _expected(spark, src)

    _upsert(spark, src, [(90, 2, 9.0, 2, False)])
    refresh_agg_view(spark, view)
    prev = manifest_versions(spark, src)[1]
    restore_manifest_table(spark, src, prev)
    s3 = refresh_agg_view(spark, view)
    assert s3["mode"] == "full", s3
    assert _got(spark, view) == _expected(spark, src)


def test_avg_view_maintained_exactly(spark, tmpdir):
    """avg (round-10 surface): maintained as hidden sum + non-null
    count, quotient recomputed per changed group — exact for values
    whose sums are exact in double, NULL again when the last non-null
    value dies, fresh after a dead group revives."""
    src, view = f"{tmpdir}/src", f"{tmpdir}/view"
    _mk_source(spark, src, n=12, groups=3)
    create_agg_view(spark, src, view, ["g"],
                    {"ax": ("avg", "x"), "n": ("count", "*")},
                    src_tombstone_col="dead")

    def expected():
        live = read_table(spark, src).where(
            ~F.coalesce(F.col("dead"), F.lit(False))
        )
        out = live.groupBy("g").agg(
            (F.sum("x") / F.count("x")).alias("ax"),
            F.count(F.lit(1)).alias("n"),
        )
        return {r["g"]: (r["ax"], r["n"]) for r in out.collect()}

    def got():
        return {
            r["g"]: (r["ax"], r["n"])
            for r in read_agg_view(spark, view).collect()
        }

    assert got() == expected()
    # moves, an insert into a new group, a NULL x, a delete
    _upsert(spark, src, [(0, 2, 40.0, 1, False), (3, 7, 8.0, 1, False),
                         (100, 1, None, 1, False), (4, 1, None, 1, True)])
    s = refresh_agg_view(spark, view)
    assert s["mode"] == "incremental", s
    assert got() == expected()
    # the last non-null value of a group dies -> avg reads NULL again
    g1_keys = [r["k"] for r in read_table(spark, src)
               .where((F.col("g") == 1) & ~F.col("dead")
                      & F.col("x").isNotNull()).collect()]
    _upsert(spark, src, [(k, 1, None, 2, False) for k in g1_keys])
    refresh_agg_view(spark, view)
    assert got()[1][0] is None and got() == expected()
    # revive arithmetic from the NULL-stored hidden sum
    _upsert(spark, src, [(g1_keys[0], 1, 6.5, 3, False)])
    refresh_agg_view(spark, view)
    assert got()[1][0] == 6.5 and got() == expected()


def test_filtered_view_boundary_crossings(spark, tmpdir):
    """filter_expr (round-10 surface): the view maintains the FILTERED
    multiset — an update moving a row into/out of the predicate is an
    insert/delete of the view's world, handled by the per-row feed
    signs with no special casing."""
    src, view = f"{tmpdir}/src", f"{tmpdir}/view"
    _mk_source(spark, src, n=20, groups=4)  # x = float(k), 0..19
    create_agg_view(spark, src, view, ["g"], AGGS,
                    src_tombstone_col="dead", filter_expr="x >= 10.0")

    def expected():
        live = read_table(spark, src).where(
            ~F.coalesce(F.col("dead"), F.lit(False))
        ).where("x >= 10.0")
        out = live.groupBy("g").agg(
            F.sum("x").alias("sx"), F.count(F.lit(1)).alias("n"),
            F.count("x").alias("nx"), F.min("x").alias("mn"),
            F.max("x").alias("mx"),
        )
        return {r["g"]: tuple(r)[1:] for r in out.collect()}

    assert _got(spark, view) == expected()
    # cross INTO the filter (x 3->13), OUT of it (x 15->5), move within
    # (x 11->19 changing group), and an irrelevant sub-filter update
    _upsert(spark, src, [(3, 3, 13.0, 1, False), (15, 3, 5.0, 1, False),
                         (11, 0, 19.0, 1, False), (2, 2, 4.0, 1, False)])
    s = refresh_agg_view(spark, view)
    assert s["mode"] == "incremental", s
    assert _got(spark, view) == expected()
    # delete a filtered-in extreme holder -> recompute lane respects
    # the filter too
    _upsert(spark, src, [(19, 3, None, 2, True)])
    s2 = refresh_agg_view(spark, view)
    assert s2["minmax_recompute"], s2
    assert _got(spark, view) == expected()
    # full-recompute lane (compaction) re-applies the filter
    compact_small_files(spark, src)
    s3 = refresh_agg_view(spark, view)
    assert s3["mode"] == "full", s3
    assert _got(spark, view) == expected()


def test_catchup_refresh_past_broadcast_gate(spark, tmpdir, monkeypatch):
    """A catch-up refresh whose changed-group set is 'too big to
    broadcast' (gate forced to 0 bytes) must degrade to plain shuffle
    joins and still land value-exact — the round-10 scale fix for the
    unconditional F.broadcast calls the r9 verdict flagged. (At real
    scale AQE may still pick a broadcast join from runtime sizes;
    the fix removes the unconditional HINT that would OOM past the
    8 GB broadcast limit.)"""
    import async_pipes_spark.sources.ivm as ivm_mod

    src, view = f"{tmpdir}/src", f"{tmpdir}/view"
    # near-unique group key: every row is its own group, so the
    # changed-group frames are O(feed), the adversarial shape
    rows = [(i, i, float(i), 0, False) for i in range(300)]
    write_manifest_table(
        spark, spark.createDataFrame(rows, SCHEMA), src
    )
    create_agg_view(spark, src, view, ["g"], AGGS, src_tombstone_col="dead")
    monkeypatch.setattr(ivm_mod, "_MOR_BROADCAST_MAX_BYTES", 0)

    # past the gate, ivm must never even ASK for a broadcast hint:
    # shim its F so touching F.broadcast fails loudly (other modules'
    # own gated broadcasts — resolver, cdc — keep the real functions)
    class NoBroadcastF:
        def __getattr__(self, name):
            if name == "broadcast":
                raise AssertionError(
                    "ivm requested a broadcast hint past the size gate"
                )
            return getattr(F, name)

    monkeypatch.setattr(ivm_mod, "F", NoBroadcastF())
    # a backlog touching most groups, incl. minmax recompute work
    _upsert(spark, src, [(i, i, float(i) + 0.5, 1, False)
                         for i in range(0, 300, 2)])
    _upsert(spark, src, [(i, i, None, 2, True)
                         for i in range(1, 300, 7)])
    s = refresh_agg_view(spark, view)
    assert s["mode"] == "incremental" and s["deltas_consumed"] == 2, s
    assert _got(spark, view) == _expected(spark, src)


def test_cursor_race_downgrades_full(spark, tmpdir, monkeypatch):
    """A source compaction racing between the refresh's state pin and
    its mor_changes read folds the cursor out of the live backlog —
    mor_changes raises, and the refresh must take the full-recompute
    lane instead of crashing (the r10 advice item)."""
    import async_pipes_spark.sources.ivm as ivm_mod

    src, view = f"{tmpdir}/src", f"{tmpdir}/view"
    _mk_source(spark, src)
    create_agg_view(spark, src, view, ["g"], AGGS, src_tombstone_col="dead")
    _upsert(spark, src, [(1, 1, 11.0, 1, False)])

    real = ivm_mod.mor_changes

    def racing(spark_, path, since=None, until=None):
        # simulate: the backlog the pin saw is folded away mid-flight
        compact_small_files(spark_, path)
        return real(spark_, path, since=since, until=until)

    monkeypatch.setattr(ivm_mod, "mor_changes", racing)
    s = refresh_agg_view(spark, view)
    assert s["mode"] == "full" and s["reason"] == "cursor-raced", s
    monkeypatch.setattr(ivm_mod, "mor_changes", real)
    assert _got(spark, view) == _expected(spark, src)
    # and the re-armed cursor keeps the incremental lane working
    _upsert(spark, src, [(2, 2, 22.0, 2, False)])
    assert refresh_agg_view(spark, view)["mode"] == "incremental"
    assert _got(spark, view) == _expected(spark, src)


@pytest.mark.parametrize("flavor", ["flat", "partitioned"])
def test_full_verb_model_both_flavors(spark, tmpdir, flavor):
    """Round-10 model net (verdict #7): a seeded random program over
    EVERY base-moving verb — mor upserts, COW merge, compaction,
    z-order, tombstone purge, restore, view optimize — interleaved
    with refreshes on BOTH manifest flavors, view-vs-direct-GROUP-BY
    asserted after every step. No hand-kept model: the oracle is the
    resolved table itself, so restore needs no bookkeeping."""
    from async_pipes_spark.sources.sinks import (
        manifest_versions,
        merge_upsert,
        mor_deltas,
        optimize_zorder,
        partitioned_manifest_generations,
        purge_tombstones,
        restore_manifest_table,
        write_partitioned_manifest_table,
    )

    rng = random.Random(0xBEEF10 if flavor == "flat" else 0xFEED10)
    src, view = f"{tmpdir}/src", f"{tmpdir}/view"
    rows = [(i, i % 4, float(i), 0, False) for i in range(24)]
    if flavor == "flat":
        write_manifest_table(spark, spark.createDataFrame(rows, SCHEMA), src)
    else:
        write_partitioned_manifest_table(
            spark, spark.createDataFrame(rows, SCHEMA), src, ["g"]
        )
    create_agg_view(spark, src, view, ["g"], AGGS, src_tombstone_col="dead")
    ver = 0
    for step in range(10):
        op = rng.choice(["mor", "mor", "mor", "merge", "compact",
                         "zorder", "purge", "restore", "vopt"])
        backlog = bool(mor_deltas(spark, src))
        if op == "mor":
            batch = []
            for _ in range(rng.randint(1, 5)):
                ver += 1
                g = rng.randint(0, 5) if flavor == "partitioned" else (
                    rng.choice([None] + list(range(6))))
                batch.append((rng.randint(0, 40), g,
                              rng.choice([None, float(rng.randint(-9, 99))]),
                              ver, rng.random() < 0.25))
            _upsert(spark, src, batch)
        elif op == "merge" and not backlog:
            ver += 1
            merge_upsert(
                spark, src,
                spark.createDataFrame(
                    [(rng.randint(0, 40), rng.randint(0, 5),
                      float(rng.randint(-9, 99)), ver, False)], SCHEMA),
                ["k"], version_cols=["ver"], tombstone_col="dead",
                partition_by=["g"] if flavor == "partitioned" else None,
            )
        elif op == "compact":
            compact_small_files(spark, src)
        elif op == "zorder":
            optimize_zorder(spark, src, ["k"], target_rows_per_file=1000)
        elif op == "purge" and not backlog:
            purge_tombstones(
                spark, src, "dead",
                partition_by=["g"] if flavor == "partitioned" else None,
            )
        elif op == "restore":
            states = (manifest_versions(spark, src) if flavor == "flat"
                      else partitioned_manifest_generations(spark, src))
            restore_manifest_table(spark, src, rng.choice(states))
        elif op == "vopt":
            optimize_agg_view(spark, view,
                              purge_dead=rng.random() < 0.5)
        refresh_agg_view(spark, view)
        assert _got(spark, view) == _expected(spark, src), (flavor, step, op)


# ---- count_distinct (two-level companion reduction) -----------------

CD_AGGS = {"dx": ("count_distinct", "x"), "n": ("count", "*")}


def _expected_cd(spark, src, filt=None):
    live = read_table(spark, src).where(
        ~F.coalesce(F.col("dead"), F.lit(False))
    )
    if filt:
        live = live.where(filt)
    out = live.groupBy("g").agg(
        F.countDistinct("x").alias("dx"),
        F.count(F.lit(1)).alias("n"),
    )
    return {r["g"]: (r["dx"], r["n"]) for r in out.collect()}


def _got_cd(spark, view):
    return {
        r["g"]: (r["dx"], r["n"])
        for r in read_agg_view(spark, view).collect()
    }


def test_count_distinct_maintained_exactly(spark, tmpdir):
    """COUNT(DISTINCT x) through the companion fold: duplicates
    collapse, removing ONE of two holders leaves the count, removing
    the LAST holder drops it, NULLs never count, and a PURE VALUE SWAP
    (every plain counter static — the case a moved-filter would have
    dropped) still lands."""
    src, view = f"{tmpdir}/src", f"{tmpdir}/view"
    _mk_source(spark, src)  # x = float(k): 10 distinct per group
    st = create_agg_view(spark, src, view, ["g"], CD_AGGS,
                         src_tombstone_col="dead")
    assert st["dv_seqs"] and _got_cd(spark, view) == _expected_cd(spark, src)
    # collapse: k 0/4/8 (g=0) all take x=1000.0 (3 rows, 1 value);
    # NULL x lands on k=12; k=16 swaps value with NOTHING else moving
    _upsert(spark, src, [
        (0, 0, 1000.0, 1, False), (4, 0, 1000.0, 1, False),
        (8, 0, 1000.0, 1, False), (12, 0, None, 1, False),
        (16, 0, 777.0, 1, False),
    ])
    s = refresh_agg_view(spark, view)
    assert s["mode"] == "incremental", s
    assert _got_cd(spark, view) == _expected_cd(spark, src)
    # remove ONE holder of 1000.0 (count stays), then the remaining
    # two (count drops) — through the CURSORED feed
    _upsert(spark, src, [(0, None, None, 2, True)])
    refresh_agg_view(spark, view)
    assert _got_cd(spark, view) == _expected_cd(spark, src)
    _upsert(spark, src, [(4, None, None, 3, True), (8, None, None, 3, True)])
    refresh_agg_view(spark, view)
    assert _got_cd(spark, view) == _expected_cd(spark, src)
    assert refresh_agg_view(spark, view)["mode"] == "noop"


def test_count_distinct_group_moves_and_revival(spark, tmpdir):
    """A value moving BETWEEN groups is a delete in one companion
    slice and an insert in another; a group dying and reviving rebuilds
    its distinct count from revived companion rows."""
    src, view = f"{tmpdir}/src", f"{tmpdir}/view"
    rows = [(1, 1, 5.0, 0, False), (2, 1, 5.0, 0, False),
            (3, 2, 7.0, 0, False)]
    write_manifest_table(spark, spark.createDataFrame(rows, SCHEMA), src)
    create_agg_view(spark, src, view, ["g"], CD_AGGS,
                    src_tombstone_col="dead")
    # k=2 moves g 1->2 carrying x=5.0: g1 keeps 5.0 via k=1, g2 gains it
    _upsert(spark, src, [(2, 2, 5.0, 1, False)])
    refresh_agg_view(spark, view)
    assert _got_cd(spark, view) == _expected_cd(spark, src) == {
        1: (1, 1), 2: (2, 2),
    }
    # g=1 dies entirely...
    _upsert(spark, src, [(1, None, None, 2, True)])
    refresh_agg_view(spark, view)
    assert _got_cd(spark, view) == _expected_cd(spark, src)
    assert 1 not in _got_cd(spark, view)
    # ...and revives with a fresh value set
    _upsert(spark, src, [(9, 1, 5.0, 0, False), (10, 1, 6.0, 0, False)])
    refresh_agg_view(spark, view)
    assert _got_cd(spark, view) == _expected_cd(spark, src)
    assert _got_cd(spark, view)[1] == (2, 2)


def test_count_distinct_filtered_view(spark, tmpdir):
    """filter_expr composes with the companion: values leaving the
    predicate leave the distinct multiset."""
    src, view = f"{tmpdir}/src", f"{tmpdir}/view"
    _mk_source(spark, src)
    create_agg_view(spark, src, view, ["g"], CD_AGGS,
                    src_tombstone_col="dead", filter_expr="x < 20.0")
    assert _got_cd(spark, view) == _expected_cd(spark, src, "x < 20.0")
    # cross out of (x 4->90) and into (x 25->9) the predicate; 9.0
    # DUPLICATES an in-filter survivor (k=9), so g=1's count must NOT
    # grow on the way in
    _upsert(spark, src, [(4, 0, 90.0, 1, False), (25, 1, 9.0, 1, False)])
    refresh_agg_view(spark, view)
    assert _got_cd(spark, view) == _expected_cd(spark, src, "x < 20.0")


def test_count_distinct_companion_drift_falls_back_full(spark, tmpdir):
    """An out-of-band write to a companion table (its pointer seq no
    longer matches the recorded dv seq) must downgrade the next
    refresh to a full rebuild of BOTH levels."""
    from async_pipes_spark.sources.ivm import DV_N, DV_VAL, _dv_path

    src, view = f"{tmpdir}/src", f"{tmpdir}/view"
    _mk_source(spark, src)
    create_agg_view(spark, src, view, ["g"], CD_AGGS,
                    src_tombstone_col="dead")
    compact_small_files(spark, _dv_path(view, "dx"))  # out-of-band move
    _upsert(spark, src, [(0, 0, 999.0, 1, False)])
    s = refresh_agg_view(spark, view)
    assert s["mode"] == "full" and s["reason"] == "companion-state-drift", s
    assert _got_cd(spark, view) == _expected_cd(spark, src)
    # the rebuilt state re-arms the incremental lane
    _upsert(spark, src, [(1, 1, 999.0, 2, False)])
    assert refresh_agg_view(spark, view)["mode"] == "incremental"
    assert _got_cd(spark, view) == _expected_cd(spark, src)


def test_count_distinct_optimize_keeps_lane(spark, tmpdir):
    """optimize_agg_view compacts the companions WITH the view and
    re-arms their seqs — the next refresh stays incremental."""
    src, view = f"{tmpdir}/src", f"{tmpdir}/view"
    _mk_source(spark, src)
    create_agg_view(spark, src, view, ["g"], CD_AGGS,
                    src_tombstone_col="dead")
    for ver in (1, 2, 3):
        _upsert(spark, src, [(ver, ver % 4, float(100 + ver), ver, False)])
        refresh_agg_view(spark, view)
    optimize_agg_view(spark, view)
    _upsert(spark, src, [(5, 1, 55.0, 4, False)])
    s = refresh_agg_view(spark, view)
    assert s["mode"] == "incremental", s
    assert _got_cd(spark, view) == _expected_cd(spark, src)


def test_count_distinct_randomized_model(spark, tmpdir):
    """Seeded random program — duplicate-heavy value domain (0..5),
    NULLs, deletes, group moves, source compactions, view optimize —
    with view == direct COUNT(DISTINCT) after every refresh."""
    rng = random.Random(0xD157)
    src, view = f"{tmpdir}/src", f"{tmpdir}/view"
    _mk_source(spark, src, n=20, groups=3)
    create_agg_view(spark, src, view, ["g"], CD_AGGS,
                    src_tombstone_col="dead")
    ver = 0
    for step in range(8):
        ver += 1
        rows = []
        for _ in range(rng.randint(1, 5)):
            rows.append((
                rng.randint(0, 25),
                rng.choice([None] + list(range(4))),
                rng.choice([None] + [float(v) for v in range(6)]),
                ver, rng.random() < 0.25,
            ))
        _upsert(spark, src, rows)
        if rng.random() < 0.25:
            compact_small_files(spark, src)
        if rng.random() < 0.25:
            optimize_agg_view(spark, view,
                              purge_dead=rng.random() < 0.5)
        refresh_agg_view(spark, view)
        assert _got_cd(spark, view) == _expected_cd(spark, src), step


def test_kitchen_sink_randomized_model(spark, tmpdir):
    """Every aggregate kind in ONE view — sum, count(*), count(col),
    avg, min, max, count_distinct — behind a filter_expr, driven by a
    seeded random program with duplicates, NULLs, deletes, group
    moves, boundary crossings, compactions, and view optimizes; view
    == direct filtered GROUP BY after every refresh. The lanes
    (algebraic fold, extreme recompute, companion fold) must compose
    in a single refresh commit."""
    rng = random.Random(0x51AA)
    src, view = f"{tmpdir}/src", f"{tmpdir}/view"
    _mk_source(spark, src, n=24, groups=3)
    aggs = {
        "sx": ("sum", "x"),
        "n": ("count", "*"),
        "nx": ("count", "x"),
        "ax": ("avg", "x"),
        "mn": ("min", "x"),
        "mx": ("max", "x"),
        "dx": ("count_distinct", "x"),
    }
    create_agg_view(spark, src, view, ["g"], aggs,
                    src_tombstone_col="dead", filter_expr="x >= 0.0")

    def expected():
        live = read_table(spark, src).where(
            ~F.coalesce(F.col("dead"), F.lit(False))
        ).where("x >= 0.0")
        out = live.groupBy("g").agg(
            F.sum("x").alias("sx"),
            F.count(F.lit(1)).alias("n"),
            F.count("x").alias("nx"),
            (F.sum("x") / F.count("x")).alias("ax"),
            F.min("x").alias("mn"),
            F.max("x").alias("mx"),
            F.countDistinct("x").alias("dx"),
        )
        return {r["g"]: tuple(r)[1:] for r in out.collect()}

    def got():
        return {
            r["g"]: tuple(r)[1:]
            for r in read_agg_view(spark, view).collect()
        }

    assert got() == expected()
    ver = 0
    for step in range(8):
        ver += 1
        rows = []
        for _ in range(rng.randint(1, 5)):
            rows.append((
                rng.randint(0, 30),
                rng.choice([None] + list(range(4))),
                # duplicate-heavy domain straddling the filter boundary
                rng.choice([None] + [float(v) for v in (-5, -1, 0, 1, 2, 9)]),
                ver, rng.random() < 0.25,
            ))
        _upsert(spark, src, rows)
        if rng.random() < 0.25:
            compact_small_files(spark, src)
        if rng.random() < 0.25:
            optimize_agg_view(spark, view,
                              purge_dead=rng.random() < 0.5)
        refresh_agg_view(spark, view)
        assert got() == expected(), step


def test_optimize_purge_dead_keeps_lane_and_allows_revival(spark, tmpdir):
    """optimize_agg_view(purge_dead=True) physically drops dead-group
    rows from the view and dead-value rows from the companions —
    the long-lived-view hygiene — without breaking the incremental
    lane, parity, or later revival of a purged group/value."""
    from async_pipes_spark.sources.ivm import IVM_DEL, _dv_path

    src, view = f"{tmpdir}/src", f"{tmpdir}/view"
    rows = [(1, 1, 5.0, 0, False), (2, 1, 6.0, 0, False),
            (3, 2, 5.0, 0, False), (4, 2, 7.0, 0, False)]
    write_manifest_table(spark, spark.createDataFrame(rows, SCHEMA), src)
    create_agg_view(spark, src, view, ["g"], CD_AGGS,
                    src_tombstone_col="dead")
    # kill group g=2 entirely and one value holder in g=1 (x=6.0 dies)
    _upsert(spark, src, [(3, None, None, 1, True), (4, None, None, 1, True),
                         (2, None, None, 1, True)])
    refresh_agg_view(spark, view)
    assert _got_cd(spark, view) == _expected_cd(spark, src) == {1: (1, 1)}

    def dead_counts():
        vd = read_table(spark, view).where(F.col(IVM_DEL)).count()
        cd = read_table(spark, _dv_path(view, "dx")).where(
            F.col(IVM_DEL)
        ).count()
        return vd, cd

    assert dead_counts() == (1, 3)  # g=2 dead; values (1,6),(2,5),(2,7) dead
    optimize_agg_view(spark, view, purge_dead=True)
    assert dead_counts() == (0, 0)  # physically gone
    assert _got_cd(spark, view) == _expected_cd(spark, src)
    # the lane survives the purge...
    _upsert(spark, src, [(5, 1, 9.0, 0, False)])
    s = refresh_agg_view(spark, view)
    assert s["mode"] == "incremental", s
    assert _got_cd(spark, view) == _expected_cd(spark, src)
    # ...and a PURGED group and value revive cleanly
    _upsert(spark, src, [(6, 2, 5.0, 0, False), (7, 1, 6.0, 0, False)])
    s2 = refresh_agg_view(spark, view)
    assert s2["mode"] == "incremental", s2
    assert _got_cd(spark, view) == _expected_cd(spark, src)
    assert _got_cd(spark, view)[2] == (1, 1)


# ---- single-maintainer contract (r11 verdict item 6) -----------------


def test_concurrent_refresher_loses_loudly_and_downgrades(
    spark, tmpdir, monkeypatch
):
    """Two refreshers of the SAME view are outside the contract
    (module doc) — but the loser must never silently double-apply: the
    view commit is OCC-strict against the seq the refresh read its
    state at, so a competing commit landing mid-flight (simulated here
    between the feed read and the view commit — the widest possible
    race window) makes the loser's commit fail loudly and the refresh
    downgrade to the always-correct full-recompute lane."""
    import async_pipes_spark.sources.ivm as ivm_mod
    from async_pipes_spark.sources.ivm import IVM_KEY, IVM_SEQ

    src, view = f"{tmpdir}/src", f"{tmpdir}/view"
    _mk_source(spark, src)
    create_agg_view(spark, src, view, ["g"], AGGS, src_tombstone_col="dead")
    _upsert(spark, src, [(1, 1, 11.0, 1, False)])

    real = ivm_mod.mor_changes
    fired = []

    def racing(spark_, path, since=None, until=None):
        if not fired:
            fired.append(True)
            # the concurrent refresher's commit lands on the VIEW while
            # ours is mid-flight (content-neutral: re-upsert an existing
            # row at its own seq — LWW keeps the value, the pointer moves)
            mor_upsert(
                spark_, view, read_table(spark_, view).limit(1),
                [IVM_KEY], version_cols=[IVM_SEQ], tombstone_col=IVM_DEL,
            )
        return real(spark_, path, since=since, until=until)

    monkeypatch.setattr(ivm_mod, "mor_changes", racing)
    s = refresh_agg_view(spark, view)
    assert s["mode"] == "full" and s["reason"] == "concurrent-refresher", s
    monkeypatch.setattr(ivm_mod, "mor_changes", real)
    assert _got(spark, view) == _expected(spark, src)
    # the full lane re-armed the cursor: the incremental lane resumes
    _upsert(spark, src, [(2, 2, 22.0, 2, False)])
    assert refresh_agg_view(spark, view)["mode"] == "incremental"
    assert _got(spark, view) == _expected(spark, src)


def test_companion_negative_count_is_corruption(spark, tmpdir, monkeypatch):
    """r11 ADVICE item 1: a count_distinct companion fold that drives a
    (group, value) live count NEGATIVE (the signed feed retracted more
    than the companion recorded) must raise — never be committed as a
    live row — and the refresh must route it to the full-rebuild lane."""
    import async_pipes_spark.sources.ivm as ivm_mod
    from async_pipes_spark.sources.ivm import (
        DV_VAL,
        CompanionCorruption,
        _dv_fold,
    )

    src, view = f"{tmpdir}/src", f"{tmpdir}/view"
    rows = [(1, 1, 5.0, 0, False)]
    write_manifest_table(spark, spark.createDataFrame(rows, SCHEMA), src)
    create_agg_view(spark, src, view, ["g"], CD_AGGS,
                    src_tombstone_col="dead")
    # companion records ONE live row for (g=1, x=5.0); a signed feed
    # retracting it twice folds the count to -1
    signed = spark.createDataFrame(
        [(1, 5.0, -1), (1, 5.0, -1)], f"g int, {DV_VAL} double, _ivm_s int"
    )
    with pytest.raises(CompanionCorruption):
        _dv_fold(spark, view, "dx", signed, ["g"], seq=1,
                 hint=lambda df: df)

    # and through the refresher: the corruption routes to a FULL
    # rebuild of both levels instead of propagating (or committing)
    def corrupt_fold(*a, **kw):
        raise CompanionCorruption("injected")

    monkeypatch.setattr(ivm_mod, "_dv_fold", corrupt_fold)
    _upsert(spark, src, [(2, 1, 6.0, 0, False)])
    s = refresh_agg_view(spark, view)
    assert s["mode"] == "full" and s["reason"] == "companion-negative-count", s
    monkeypatch.undo()
    assert _got_cd(spark, view) == _expected_cd(spark, src)
    # the rebuilt lane keeps maintaining incrementally
    _upsert(spark, src, [(3, 2, 7.0, 0, False)])
    assert refresh_agg_view(spark, view)["mode"] == "incremental"
    assert _got_cd(spark, view) == _expected_cd(spark, src)
