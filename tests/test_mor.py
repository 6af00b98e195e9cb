"""Merge-on-read manifest tables (sources.sinks.mor_upsert).

The contract under test: a MOR table READS exactly what the equivalent
sequence of copy-on-write merges (merge_upsert, the oracle
implementation) would have STORED — while each write costs O(update
rows) instead of O(touched partitions). Covers both manifest flavors,
NULL keys, version ties, tombstones, compaction folding, time travel
over composite states, restore, diff, concurrent writers, crash
orphans, and the stats/bloom sidecar interaction: the PUBLIC planners
return None while a backlog is outstanding (no single file list is the
table then), while the delta-aware read paths (scan / read_*_pruned /
base_only=True plans) keep pruning the immutable BASE and union the
resolved deltas — including the contested-scan key-sidecar plan.
"""

from __future__ import annotations

import random
import threading

import pytest
from pyspark.sql import functions as F

from async_pipes_spark.sources.sinks import (
    compact_small_files,
    manifest_diff,
    manifest_versions,
    merge_upsert,
    mor_deltas,
    mor_upsert,
    optimize_zorder,
    purge_tombstones,
    read_manifest_table,
    read_partitioned_manifest,
    restore_manifest_table,
    vacuum_manifest,
    write_manifest_table,
)

from tests.conftest import jobs_launched

SCHEMA = "k bigint, ver bigint, s string, dead boolean"


def _rows(df, *cols):
    cols = cols or ("k", "ver", "s", "dead")
    return sorted(
        (tuple(r) for r in df.select(*cols).collect()),
        key=lambda t: tuple((x is None, x) for x in t),
    )


def _random_batch(rng, ver0: int, n: int, null_keys: bool = True):
    rows = []
    for i in range(n):
        k = rng.randrange(10)
        if null_keys and rng.random() < 0.15:
            k = None
        # deliberate version collisions (ver0, not ver0+i) exercise the
        # later-batch-wins and full-row-hash tie rules
        ver = ver0 + rng.randrange(n)
        rows.append((k, ver, f"s{ver}_{i}", rng.random() < 0.25))
    return rows


def test_mor_reads_equal_cow_merges_flat(spark, tmp_path):
    """PARITY PROPERTY (flat): random batches — NULL keys, version
    ties, tombstones — applied via merge_upsert to one table and
    mor_upsert to another read identically after every batch."""
    for seed in (7, 23):
        rng = random.Random(seed)
        cow = str(tmp_path / f"cow{seed}")
        mor = str(tmp_path / f"mor{seed}")
        seed_rows = [(k, 0, f"init{k}", False) for k in range(6)]
        for tgt in (cow, mor):
            write_manifest_table(
                spark, spark.createDataFrame(seed_rows, SCHEMA), tgt
            )
        ver = 0
        for _ in range(4):
            batch = _random_batch(rng, ver, rng.randrange(2, 5))
            ver += 10
            bdf = spark.createDataFrame(batch, SCHEMA)
            merge_upsert(
                spark, cow, bdf, ["k"],
                version_cols=["ver"], tombstone_col="dead",
            )
            mor_upsert(
                spark, mor, bdf, ["k"],
                version_cols=["ver"], tombstone_col="dead",
            )
            assert _rows(read_manifest_table(spark, cow)) == _rows(
                read_manifest_table(spark, mor)
            ), seed
        assert len(mor_deltas(spark, mor)) == 4
        # compaction folds the backlog without changing the read
        before = _rows(read_manifest_table(spark, mor))
        compact_small_files(spark, mor, target_rows_per_file=1000)
        assert mor_deltas(spark, mor) == []
        assert _rows(read_manifest_table(spark, mor)) == before


def test_mor_reads_equal_cow_merges_partitioned(spark, tmp_path):
    """PARITY PROPERTY (partitioned): same as the flat twin, with the
    partition column CHANGED by every update (ver — the
    key-moves-partition path) — MOR never rewrites a partition,
    resolution must still match. (Partition columns round-trip through
    Hive dir-name inference, so they must be inference-stable types —
    int/string; a boolean partition column reads back as string on ANY
    Hive-partitioned table, COW included.)"""
    from async_pipes_spark.sources.sinks import (
        write_partitioned_manifest_table,
    )

    rng = random.Random(41)
    cow = str(tmp_path / "pcow")
    mor = str(tmp_path / "pmor")
    seed_rows = [(k, 0, f"init{k}", False) for k in range(6)]
    for tgt in (cow, mor):
        write_partitioned_manifest_table(
            spark, spark.createDataFrame(seed_rows, SCHEMA), tgt, ["ver"]
        )
    ver = 0
    for _ in range(3):
        batch = _random_batch(rng, ver, 3, null_keys=False)
        ver += 10
        bdf = spark.createDataFrame(batch, SCHEMA)
        merge_upsert(
            spark, cow, bdf, ["k"], partition_by=["ver"],
            version_cols=["ver"], tombstone_col="dead",
        )
        mor_upsert(
            spark, mor, bdf, ["k"],
            version_cols=["ver"], tombstone_col="dead",
        )
        assert _rows(read_partitioned_manifest(spark, cow)) == _rows(
            read_partitioned_manifest(spark, mor)
        )
    before = _rows(read_partitioned_manifest(spark, mor))
    compact_small_files(spark, mor, target_rows_per_file=1000)
    assert mor_deltas(spark, mor) == []
    assert _rows(read_partitioned_manifest(spark, mor)) == before


def test_mor_write_amplification_is_o_delta(spark, tmp_path):
    """THE POINT of merge-on-read: upserting 2 rows into a 5000-row
    table writes bytes proportional to the 2 rows, not the table. The
    COW merge on the same table rewrites the full version (flat tables'
    commit unit); the MOR delta must come in far under it."""
    def _tree_bytes(p):
        import os

        total = 0
        for root, _dirs, files in os.walk(p):
            for f in files:
                total += os.path.getsize(os.path.join(root, f))
        return total

    big = spark.range(5000).select(
        F.col("id").alias("k"), F.lit(0).alias("ver"),
        F.md5(F.col("id").cast("string")).alias("s"),
        F.lit(False).alias("dead"),
    )
    cow = str(tmp_path / "wcow")
    mor = str(tmp_path / "wmor")
    for tgt in (cow, mor):
        write_manifest_table(spark, big, tgt)
    upd = spark.createDataFrame(
        [(1, 5, "x", False), (2, 5, "y", False)], SCHEMA
    )
    b0_cow, b0_mor = _tree_bytes(cow), _tree_bytes(mor)
    merge_upsert(spark, cow, upd, ["k"], version_cols=["ver"],
                 tombstone_col="dead")
    mor_upsert(spark, mor, upd, ["k"], version_cols=["ver"],
               tombstone_col="dead")
    cow_delta = _tree_bytes(cow) - b0_cow
    mor_delta = _tree_bytes(mor) - b0_mor
    # COW adds a full second version (~base size); MOR adds a 2-row
    # delta + control files. 10x headroom keeps the pin robust to
    # footer overhead while still proving the asymptotic claim.
    assert mor_delta * 10 < cow_delta, (mor_delta, cow_delta)


def test_mor_partitioned_per_batch_bytes_below_cow(spark, tmp_path):
    """The s30 claim, pinned: on a PARTITIONED lake where every batch's
    keys move across partitions (s24's worst case), a merge-on-read
    batch writes bytes proportional to the BATCH, while the
    copy-on-write merge rewrites every touched partition — strictly
    more, per batch, on the same update stream."""
    import os

    from async_pipes_spark.sources.sinks import (
        write_partitioned_manifest_table,
    )

    def _files(p):
        out = {}
        for root, _dirs, files in os.walk(p):
            for f in files:
                fp = os.path.join(root, f)
                out[fp] = os.path.getsize(fp)
        return out

    def _written(p, before):
        # bytes WRITTEN this step = sizes of files that did not exist
        # before (net tree growth would be confounded by retention GC
        # deleting aged-out versions)
        after = _files(p)
        return sum(sz for fp, sz in after.items() if fp not in before)

    # 2000 rows across 4 partitions; each batch updates 3 keys and
    # MOVES them to a different partition value
    base_df = spark.range(2000).select(
        F.col("id").alias("k"), F.lit(0).alias("ver"),
        F.md5(F.col("id").cast("string")).alias("s"),
        (F.col("id") % 4).cast("int").alias("p"),
    )
    cow = str(tmp_path / "bcow")
    mor = str(tmp_path / "bmor")
    for tgt in (cow, mor):
        write_partitioned_manifest_table(spark, base_df, tgt, ["p"])
    bschema = "k bigint, ver bigint, s string, p int"
    cow_bytes, mor_bytes = [], []
    for i in range(1, 4):
        batch = [(j, i, f"b{i}", (j + i) % 4) for j in range(3 * i, 3 * i + 3)]
        bdf = spark.createDataFrame(batch, bschema)
        b0 = _files(cow)
        merge_upsert(spark, cow, bdf, ["k"], partition_by=["p"],
                     version_cols=["ver"])
        cow_bytes.append(_written(cow, b0))
        b0 = _files(mor)
        mor_upsert(spark, mor, bdf, ["k"], version_cols=["ver"])
        mor_bytes.append(_written(mor, b0))
    # every single batch: MOR delta bytes strictly below the COW
    # touched-partition rewrite (3-row deltas vs multi-partition
    # version dirs)
    for cb, mb in zip(cow_bytes, mor_bytes):
        assert mb < cb, (mor_bytes, cow_bytes)
    # and the tables still read identically
    assert _rows(
        read_partitioned_manifest(spark, cow), "k", "ver", "s", "p"
    ) == _rows(read_partitioned_manifest(spark, mor), "k", "ver", "s", "p")


def test_mor_concurrent_writers_all_land(spark, tmp_path):
    """Concurrent MOR writers: delta appends don't depend on the base
    state, so racing commits blind-retry and every batch lands —
    disjoint key ranges from 4 threads must all be readable."""
    tgt = str(tmp_path / "conc")
    write_manifest_table(
        spark,
        spark.createDataFrame([(0, 0, "z", False)], SCHEMA),
        tgt,
    )
    errs = []

    def writer(base_key):
        try:
            rows = [(base_key + i, 1, f"w{base_key}", False) for i in range(3)]
            mor_upsert(
                spark, tgt, spark.createDataFrame(rows, SCHEMA), ["k"],
                version_cols=["ver"], tombstone_col="dead",
            )
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=writer, args=(100 * (i + 1),))
               for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert len(mor_deltas(spark, tgt)) == 4
    got = {r["k"] for r in read_manifest_table(spark, tgt).collect()}
    assert got == {0} | {100 * (i + 1) + j for i in range(4) for j in range(3)}


def test_mor_crash_orphan_invisible_and_vacuumed(spark, tmp_path):
    """A writer crashing AFTER writing its delta dir but BEFORE the
    pointer commit leaves an orphan: reads are unchanged (the state
    line never names it) and vacuum reclaims it after the grace
    window."""
    from async_pipes_spark.sources.sinks import _write_mor_spec

    tgt = str(tmp_path / "crash")
    write_manifest_table(
        spark, spark.createDataFrame([(1, 0, "a", False)], SCHEMA), tgt
    )
    before = _rows(read_manifest_table(spark, tgt))
    # simulate the crash: delta dir + spec on disk, no commit
    orphan = "x_deadbeef0000"
    spark.createDataFrame([(1, 9, "GONE", False)], SCHEMA).write.parquet(
        f"{tgt}/_data/{orphan}"
    )
    _write_mor_spec(spark, tgt, orphan, ["k"], ["ver"], "dead")
    assert mor_deltas(spark, tgt) == []
    assert _rows(read_manifest_table(spark, tgt)) == before
    counts = vacuum_manifest(spark, tgt, grace_seconds=0)
    assert counts["data_dirs"] == 1
    assert _rows(read_manifest_table(spark, tgt)) == before


def test_mor_time_travel_restore_and_diff(spark, tmp_path):
    """Composite states are first-class retained states: time travel
    reads resolve them, RESTORE re-publishes them (deltas included),
    and manifest_diff between a MOR state and a plain state reports
    the resolved changes."""
    tgt = str(tmp_path / "tt")
    write_manifest_table(
        spark,
        spark.createDataFrame(
            [(1, 0, "a", False), (2, 0, "b", False)], SCHEMA
        ),
        tgt,
        keep_versions=4,
    )
    v_plain = manifest_versions(spark, tgt)[0]
    mor_upsert(
        spark, tgt,
        spark.createDataFrame([(2, 5, "B2", False), (3, 5, "c", False)], SCHEMA),
        ["k"], version_cols=["ver"], tombstone_col="dead",
    )
    v_mor = manifest_versions(spark, tgt)[0]
    assert "+" in v_mor and v_mor.startswith(v_plain)
    mor_upsert(
        spark, tgt,
        spark.createDataFrame([(1, 9, "A9", True)], SCHEMA),
        ["k"], version_cols=["ver"], tombstone_col="dead",
    )
    # time travel to the 1-delta state
    tt = _rows(read_manifest_table(spark, tgt, version=v_mor))
    assert tt == [(1, 0, "a", False), (2, 5, "B2", False), (3, 5, "c", False)]
    # diff plain -> mor state resolves before comparing
    d = sorted(
        tuple(r)
        for r in manifest_diff(spark, tgt, v_plain, v_mor, ["k"]).collect()
    )
    assert d == [(2, "update"), (3, "insert")]
    # restore the 1-delta state: pointer-only, deltas preserved
    restore_manifest_table(spark, tgt, v_mor)
    assert _rows(read_manifest_table(spark, tgt)) == tt
    assert len(mor_deltas(spark, tgt)) == 1


def test_mor_guards_and_spec_mismatch(spark, tmp_path):
    tgt = str(tmp_path / "guards")
    write_manifest_table(
        spark, spark.createDataFrame([(1, 0, "a", False)], SCHEMA), tgt
    )
    upd = spark.createDataFrame([(1, 1, "b", False)], SCHEMA)
    mor_upsert(spark, tgt, upd, ["k"], version_cols=["ver"],
               tombstone_col="dead")
    # COW writes refuse a backlog (they would drop the delta rows)
    with pytest.raises(ValueError, match="merge-on-read"):
        merge_upsert(spark, tgt, upd, ["k"], version_cols=["ver"])
    with pytest.raises(ValueError, match="merge-on-read"):
        purge_tombstones(spark, tgt, "dead")
    # a delta with a different resolution spec refuses to mix
    with pytest.raises(ValueError, match="spec mismatch"):
        mor_upsert(spark, tgt, upd, ["k"], version_cols=["ver", "k"],
                   tombstone_col="dead")
    with pytest.raises(ValueError, match="spec mismatch"):
        mor_upsert(spark, tgt, upd.drop("dead"), ["k"], version_cols=["ver"])
    # tombstones need versions (same rule as merge_upsert)
    with pytest.raises(ValueError, match="version_cols"):
        mor_upsert(spark, tgt, upd, ["k"], tombstone_col="dead")
    # not a manifest table
    with pytest.raises(ValueError, match="not a manifest table"):
        mor_upsert(spark, str(tmp_path / "nowhere"), upd, ["k"])


def test_mor_unversioned_replace_matches_cow(spark, tmp_path):
    """No version_cols: unconditional replace — the newest batch
    holding a key wins whole (multi-row batches keep ALL their rows
    for the key, exactly like COW's keep ∪ updates)."""
    cow = str(tmp_path / "ucow")
    mor = str(tmp_path / "umor")
    seed_rows = [(1, 0, "a", False), (2, 0, "b", False)]
    for tgt in (cow, mor):
        write_manifest_table(
            spark, spark.createDataFrame(seed_rows, SCHEMA), tgt
        )
    batches = [
        [(1, 1, "x1", False), (1, 1, "x2", False)],  # duplicate key rows
        [(3, 2, "c", False)],
        [(1, 3, "y", False), (None, 3, "n", False)],  # NULL key appends
    ]
    for b in batches:
        bdf = spark.createDataFrame(b, SCHEMA)
        merge_upsert(spark, cow, bdf, ["k"])
        mor_upsert(spark, mor, bdf, ["k"])
        assert _rows(read_manifest_table(spark, cow)) == _rows(
            read_manifest_table(spark, mor)
        )


def test_mor_additive_schema_evolution_matches_cow(spark, tmp_path):
    """allow_schema_evolution: a new update column rides the delta and
    stored rows read NULL there — exactly the table the COW evolution
    stores; a batch MISSING an existing column still errors; without
    the flag the new column is rejected."""
    cow = str(tmp_path / "ecow")
    mor = str(tmp_path / "emor")
    seed_rows = [(1, 0, "a", False), (2, 0, "b", False)]
    for tgt in (cow, mor):
        write_manifest_table(
            spark, spark.createDataFrame(seed_rows, SCHEMA), tgt
        )
    evolved = "k bigint, ver bigint, s string, dead boolean, extra bigint"
    b1 = spark.createDataFrame([(2, 5, "B", False, 42)], evolved)
    with pytest.raises(ValueError, match="mismatch"):
        mor_upsert(spark, mor, b1, ["k"], version_cols=["ver"],
                   tombstone_col="dead")
    merge_upsert(spark, cow, b1, ["k"], version_cols=["ver"],
                 tombstone_col="dead", allow_schema_evolution=True)
    mor_upsert(spark, mor, b1, ["k"], version_cols=["ver"],
               tombstone_col="dead", allow_schema_evolution=True)
    cols = ("k", "ver", "s", "dead", "extra")
    assert _rows(read_manifest_table(spark, cow), *cols) == _rows(
        read_manifest_table(spark, mor), *cols
    )
    # a later batch carrying the evolved schema merges normally, and a
    # batch missing an EXISTING column still errors even with the flag
    b2 = spark.createDataFrame([(1, 6, "A", False, 7)], evolved)
    merge_upsert(spark, cow, b2, ["k"], version_cols=["ver"],
                 tombstone_col="dead")
    mor_upsert(spark, mor, b2, ["k"], version_cols=["ver"],
               tombstone_col="dead")
    assert _rows(read_manifest_table(spark, cow), *cols) == _rows(
        read_manifest_table(spark, mor), *cols
    )
    with pytest.raises(ValueError, match="missing existing"):
        mor_upsert(spark, mor, b2.drop("s"), ["k"], version_cols=["ver"],
                   tombstone_col="dead", allow_schema_evolution=True)
    # compaction folds the evolved backlog losslessly
    before = _rows(read_manifest_table(spark, mor), *cols)
    compact_small_files(spark, mor, target_rows_per_file=1000)
    assert _rows(read_manifest_table(spark, mor), *cols) == before


def test_mor_auto_compact_bounds_backlog(spark, tmp_path):
    tgt = str(tmp_path / "auto")
    write_manifest_table(
        spark, spark.createDataFrame([(1, 0, "a", False)], SCHEMA), tgt
    )
    for i in range(3):
        mor_upsert(
            spark, tgt,
            spark.createDataFrame([(i, i + 1, f"v{i}", False)], SCHEMA),
            ["k"], version_cols=["ver"], tombstone_col="dead",
            auto_compact_deltas=3,
        )
    # third write crossed the threshold and folded
    assert mor_deltas(spark, tgt) == []
    assert len(_rows(read_manifest_table(spark, tgt))) == 3


def test_mor_sidecar_pruning_disabled_then_revived(spark, tmp_path):
    """Stats/bloom sidecars index BASE files: with a backlog
    outstanding the planners return None and the pruned-read entry
    points fall back to the RESOLVED read (correct results, no
    skipping); compaction publishes a fresh base and the refresh hook
    revives pruning automatically."""
    from async_pipes_spark.sources.stats import (
        prune_files,
        prune_files_bloom,
        read_bloom_pruned,
        read_stats_pruned,
        write_file_bloom,
        write_file_stats,
    )

    tgt = str(tmp_path / "sc")
    base = spark.range(200).select(
        F.col("id").alias("k"), F.lit(0).alias("ver"),
        F.col("id").cast("string").alias("s"), F.lit(False).alias("dead"),
    ).repartition(4)
    write_manifest_table(spark, base, tgt)
    write_file_stats(spark, tgt, ["k"])
    write_file_bloom(spark, tgt, ["s"])
    assert prune_files(spark, tgt, {"k": (5, 6)}) is not None
    assert prune_files_bloom(spark, tgt, "s", "5") is not None

    mor_upsert(
        spark, tgt,
        spark.createDataFrame([(5, 1, "five", False)], SCHEMA),
        ["k"], version_cols=["ver"], tombstone_col="dead",
    )
    # planners bail; builds refuse; reads stay CORRECT via fallback
    assert prune_files(spark, tgt, {"k": (5, 6)}) is None
    assert prune_files_bloom(spark, tgt, "s", "5") is None
    with pytest.raises(ValueError, match="merge-on-read"):
        write_file_stats(spark, tgt, ["k"])
    with pytest.raises(ValueError, match="merge-on-read"):
        write_file_bloom(spark, tgt, ["s"])
    got = _rows(read_stats_pruned(spark, tgt, {"k": (5, 6)}))
    assert got == [(5, 1, "five", False), (6, 0, "6", False)]
    assert _rows(read_bloom_pruned(spark, tgt, "s", "five")) == [
        (5, 1, "five", False)
    ]
    # compaction folds the backlog; the commit-time refresh hook
    # rebuilds both sidecars for the new base — pruning revives
    compact_small_files(spark, tgt, target_rows_per_file=50)
    assert prune_files(spark, tgt, {"k": (5, 6)}) is not None
    assert prune_files_bloom(spark, tgt, "s", "five") is not None
    assert _rows(read_stats_pruned(spark, tgt, {"k": (5, 6)})) == got


def test_mor_zorder_folds_backlog(spark, tmp_path):
    tgt = str(tmp_path / "zf")
    write_manifest_table(
        spark,
        spark.createDataFrame(
            [(k, 0, f"s{k}", False) for k in range(50)], SCHEMA
        ),
        tgt,
    )
    mor_upsert(
        spark, tgt,
        spark.createDataFrame([(7, 1, "seven", True)], SCHEMA),
        ["k"], version_cols=["ver"], tombstone_col="dead",
    )
    before = _rows(read_manifest_table(spark, tgt))
    optimize_zorder(spark, tgt, ["k", "ver"], target_rows_per_file=100)
    assert mor_deltas(spark, tgt) == []
    assert _rows(read_manifest_table(spark, tgt)) == before


def test_mor_manifest_randomized_model(spark, tmp_path):
    """THE round-8 model test (verdict item 8): random interleavings of
    mor_upsert, COW merges (legal only on a folded table), tombstone
    purges, compactions, pointer-only RESTOREs, manifest_diff
    round-trips, and bloom-sidecar validity checks against one Python
    model — the lake's whole maintenance surface in one net. After
    every step the live read equals the model; diffs between retained
    states equal the model-snapshot diff; the bloom planner is usable
    exactly when no backlog is outstanding; and the CHANGE-DATA-FEED
    (sources.cdc.mor_changes) equals the live-row diff between the
    model's base-component snapshot and the live model — empty exactly
    when nothing nets out, whatever interleaving produced the state."""
    from async_pipes_spark.sources.cdc import mor_changes
    from async_pipes_spark.sources.stats import (
        prune_files_bloom,
        write_file_bloom,
    )

    def model_feed(base_m: dict, live_m: dict):
        """Expected CDC rows from two model states (live rows only —
        the model stores tombstones as dead=True values)."""
        b = {k: v for k, v in base_m.items() if not v[2]}
        l_ = {k: v for k, v in live_m.items() if not v[2]}
        rows = []
        for k in l_.keys() - b.keys():
            rows.append((k, *l_[k][:2], False, "insert"))
        for k in b.keys() - l_.keys():
            rows.append((k, *b[k][:2], False, "delete"))
        for k in b.keys() & l_.keys():
            if b[k] != l_[k]:
                rows.append((k, *b[k][:2], False, "update_preimage"))
                rows.append((k, *l_[k][:2], False, "update_postimage"))
        return sorted(rows)

    for seed in (13, 37):
        rng = random.Random(seed)
        tgt = str(tmp_path / f"model{seed}")
        model: dict = {}
        init = [(k, 0, f"s{k}", False) for k in range(5)]
        for k, v, s, d in init:
            model[k] = (v, s, d)
        write_manifest_table(
            spark, spark.createDataFrame(init, SCHEMA), tgt, keep_versions=3
        )
        write_file_bloom(spark, tgt, ["s"])
        base_model = dict(model)
        v0 = manifest_versions(spark, tgt)[0]
        snap = {v0: dict(model)}
        base_snap = {v0: dict(base_model)}
        ver = 0

        def apply_model(rows):
            for k, v, s, d in rows:
                if k is None:
                    continue  # NULL keys excluded from this model
                if k not in model or v > model[k][0]:
                    model[k] = (v, s, d)

        for _step in range(14):
            op = rng.choice(
                ["mor", "mor", "mor", "merge", "purge",
                 "compact", "restore", "diff", "zorder", "badspec"]
            )
            backlog = bool(mor_deltas(spark, tgt))
            if op == "mor":
                rows = []
                for _ in range(rng.randrange(1, 4)):
                    ver += 1
                    rows.append(
                        (rng.randrange(8), ver, f"v{ver}", rng.random() < 0.25)
                    )
                apply_model(rows)
                mor_upsert(
                    spark, tgt, spark.createDataFrame(rows, SCHEMA), ["k"],
                    version_cols=["ver"], tombstone_col="dead",
                )
            elif op == "merge":
                ver += 1
                rows = [(rng.randrange(8), ver, f"v{ver}", False)]
                bdf = spark.createDataFrame(rows, SCHEMA)
                if backlog:
                    with pytest.raises(ValueError, match="merge-on-read"):
                        merge_upsert(spark, tgt, bdf, ["k"],
                                     version_cols=["ver"],
                                     tombstone_col="dead")
                else:
                    apply_model(rows)
                    merge_upsert(spark, tgt, bdf, ["k"],
                                 version_cols=["ver"], tombstone_col="dead")
                    base_model = dict(model)
            elif op == "purge":
                if backlog:
                    with pytest.raises(ValueError, match="merge-on-read"):
                        purge_tombstones(spark, tgt, "dead")
                else:
                    purged = purge_tombstones(spark, tgt, "dead")
                    assert purged == sum(1 for v in model.values() if v[2])
                    for k in [k for k, v in model.items() if v[2]]:
                        del model[k]
                    base_model = dict(model)
            elif op == "restore":
                to = rng.choice(manifest_versions(spark, tgt))
                restore_manifest_table(spark, tgt, to)
                model = dict(snap[to])
                base_model = dict(base_snap[to])
            elif op == "diff":
                states = manifest_versions(spark, tgt)
                if len(states) >= 2:
                    a, b = rng.sample(states, 2)
                    got = sorted(
                        tuple(r)
                        for r in manifest_diff(spark, tgt, a, b, ["k"]).collect()
                    )
                    ma, mb = snap[a], snap[b]
                    want = sorted(
                        [(k, "insert") for k in mb.keys() - ma.keys()]
                        + [(k, "delete") for k in ma.keys() - mb.keys()]
                        + [
                            (k, "update")
                            for k in ma.keys() & mb.keys()
                            if ma[k] != mb[k]
                        ]
                    )
                    assert got == want, (seed, _step, a, b)
            elif op == "zorder":
                # the other backlog-folding maintenance verb: same
                # read-after, same sidecar revival, clustered layout
                optimize_zorder(
                    spark, tgt, ["k", "ver"], target_rows_per_file=1000
                )
                assert mor_deltas(spark, tgt) == []
                base_model = dict(model)
            elif op == "badspec":
                # mixed-spec guard: a writer on a DIFFERENT resolution
                # spec must be refused while a backlog is outstanding
                # (on an empty backlog a new spec legally starts a new
                # one, so only the guarded case is driven)
                if backlog:
                    with pytest.raises(ValueError, match="spec mismatch"):
                        mor_upsert(
                            spark, tgt,
                            spark.createDataFrame(
                                [(1, 999, "bad", False)], SCHEMA
                            ),
                            ["k"], version_cols=["ver", "k"],
                            tombstone_col="dead",
                        )
            else:
                compact_small_files(spark, tgt, target_rows_per_file=1000)
                assert mor_deltas(spark, tgt) == []
                base_model = dict(model)
            live_state = manifest_versions(spark, tgt)[0]
            snap[live_state] = dict(model)
            base_snap[live_state] = dict(base_model)
            want = sorted((k, v, s, d) for k, (v, s, d) in model.items())
            assert _rows(read_manifest_table(spark, tgt)) == want, (
                seed, _step, op,
            )
            # change-data-feed vs the model: feed == live-row diff of
            # base-component snapshot → live model, empty when folded
            # or fully netted out
            got_feed = sorted(
                tuple(r)
                for r in mor_changes(spark, tgt)
                .select("k", "ver", "s", "dead", "_change_type")
                .collect()
            )
            assert got_feed == model_feed(base_model, model), (
                seed, _step, op,
            )
            # bloom sidecar validity: planner usable iff no backlog
            plan = prune_files_bloom(spark, tgt, "s", "s0")
            if mor_deltas(spark, tgt):
                assert plan is None
            else:
                assert plan is not None, (seed, _step, op)


def test_mor_untouched_duplicate_base_rows_survive(spark, tmp_path):
    """THE round-9 advisor repro (round-8 ADVICE, high): duplicate-key
    base rows whose key NO delta touches must survive row-for-row —
    exactly like merge_upsert, whose anti-join passes them through.
    The previous whole-union window collapsed them to one row, and
    compaction then persisted the loss."""
    tgt = str(tmp_path / "dup")
    base = [(1, 0, "a1", False), (1, 0, "a2", False), (2, 0, "b", False)]
    write_manifest_table(spark, spark.createDataFrame(base, SCHEMA), tgt)
    mor_upsert(
        spark, tgt,
        spark.createDataFrame([(2, 5, "B", False)], SCHEMA),
        ["k"], version_cols=["ver"], tombstone_col="dead",
    )
    want = [
        (1, 0, "a1", False), (1, 0, "a2", False), (2, 5, "B", False),
    ]
    assert _rows(read_manifest_table(spark, tgt)) == want
    # ... and compaction persists the SAME table (no silent row loss)
    compact_small_files(spark, tgt, target_rows_per_file=1000)
    assert _rows(read_manifest_table(spark, tgt)) == want

    # COW oracle on the identical sequence
    cow = str(tmp_path / "dupcow")
    write_manifest_table(spark, spark.createDataFrame(base, SCHEMA), cow)
    merge_upsert(
        spark, cow,
        spark.createDataFrame([(2, 5, "B", False)], SCHEMA),
        ["k"], version_cols=["ver"], tombstone_col="dead",
    )
    assert _rows(read_manifest_table(spark, cow)) == want


def test_mor_untouched_base_branch_is_shuffle_free(spark, tmp_path):
    """SCALE PIN (round-8 verdict item 2): the resolved read of a
    backlogged table must NOT shuffle the untouched base — the delta
    key set broadcasts, the anti/semi joins are BroadcastHashJoin, and
    the only Exchange feeds the window over the CONTESTED slice. A
    SortMergeJoin (or any hash-partitioning of the full base for a
    join) in this plan is the 100 TB regression this test exists to
    catch."""
    tgt = str(tmp_path / "sf")
    write_manifest_table(
        spark,
        spark.createDataFrame(
            [(k, 0, f"s{k}", False) for k in range(500)], SCHEMA
        ).repartition(4),
        tgt,
    )
    mor_upsert(
        spark, tgt,
        spark.createDataFrame([(7, 1, "seven", False)], SCHEMA),
        ["k"], version_cols=["ver"], tombstone_col="dead",
    )
    df = read_manifest_table(spark, tgt)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # untouched branch = broadcast ANTI join (pass-through, no window)
    assert "LeftAnti" in plan, plan
    # contested branch = broadcast SEMI join into the LWW window
    assert "LeftSemi" in plan, plan


def test_mor_unversioned_contested_never_scans_base(spark, tmp_path):
    """With NO version columns the replace is unconditional — a base
    row never wins a contested key — so the resolved plan reads the
    base exactly ONCE (the untouched anti-join); the winners side is
    deltas-only. Pinned via the plan's scan count of the base dir."""
    tgt = str(tmp_path / "uv")
    write_manifest_table(
        spark,
        spark.createDataFrame(
            [(k, 0, f"s{k}", False) for k in range(100)], SCHEMA
        ),
        tgt,
    )
    from async_pipes_spark.sources.sinks import manifest_version

    base_v = manifest_version(spark, tgt)
    mor_upsert(
        spark, tgt,
        spark.createDataFrame([(3, 9, "three", False)], SCHEMA),
        ["k"],
    )
    df = read_manifest_table(spark, tgt)
    want = sorted(
        [(k, 0, f"s{k}", False) for k in range(100) if k != 3]
        + [(3, 9, "three", False)]
    )
    assert _rows(df) == want
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    base_scans = sum(
        1
        for ln in plan.splitlines()
        if ln.strip().startswith("Location") and base_v in ln
    )
    assert base_scans == 1, plan


@pytest.mark.parametrize("versioned", [True, False])
def test_mor_read_job_count(spark, tmp_path, versioned):
    """A resolved read runs one shuffle under either spec: the delta
    keys are broadcast without a distinct, and one keyed window
    resolves the contested rows (NULL-key delta rows included). A
    20-row base plus a 4-row delta with a NULL key and a tombstone
    collects in 3 jobs; with a distinct over the keys and a second
    pass (a NULL-key window, or a max-source aggregate joined back)
    it took 5. The writers record each data dir's schema, so even the
    first read after the write infers nothing (one more job before)."""
    tgt = str(tmp_path / "t")
    write_manifest_table(
        spark,
        spark.createDataFrame([(k, 0, f"i{k}", False) for k in range(20)], SCHEMA),
        tgt,
    )
    spec = {"version_cols": ["ver"], "tombstone_col": "dead"} if versioned else {}
    mor_upsert(
        spark, tgt,
        spark.createDataFrame(
            [(3, 1, "u3", False), (4, 1, None, True), (25, 1, "n25", False),
             (None, 1, "nk", False)],
            SCHEMA,
        ),
        ["k"], **spec,
    )
    rows = []
    jobs = jobs_launched(
        spark, lambda: rows.extend(read_manifest_table(spark, tgt).collect())
    )
    assert len(rows) == 22, rows
    assert jobs <= 3, jobs


@pytest.mark.parametrize("empty", [False, True])
def test_written_dir_schema_matches_inferred_read(spark, tmp_path, empty):
    """The schema a writer records for its ``_data`` dir equals a fresh
    mergeSchema read of that dir — every field, array element and map
    value nullable, field metadata kept — for the base version
    ``write_manifest_table`` writes and the delta ``mor_upsert`` writes,
    over decimal, timestamp, timestamp_ntz, date, binary, array<struct>
    with non-null elements, map, nested struct and non-nullable columns,
    on a populated and an empty frame."""
    import datetime
    import decimal

    from pyspark.sql.types import (
        ArrayType,
        BinaryType,
        DateType,
        DecimalType,
        DoubleType,
        IntegerType,
        LongType,
        MapType,
        StringType,
        StructField,
        StructType,
        TimestampNTZType,
        TimestampType,
    )

    from async_pipes_spark.sources.sinks import (
        _DIR_SCHEMA_CACHE,
        manifest_version,
    )

    schema = StructType([
        StructField("k", LongType(), False, {"comment": "key"}),
        StructField("d", DecimalType(12, 3)),
        StructField("ts", TimestampType()),
        StructField("ntz", TimestampNTZType(), False),
        StructField("day", DateType()),
        StructField("b", BinaryType()),
        StructField(
            "arr",
            ArrayType(
                StructType([
                    StructField("x", LongType(), False),
                    StructField("y", StringType()),
                ]),
                False,
            ),
            False,
        ),
        StructField("m", MapType(StringType(), DoubleType(), False)),
        StructField("st", StructType([StructField("z", IntegerType(), False)]), False),
    ])

    def row(k):
        return (
            k, decimal.Decimal("1.250"), datetime.datetime(2020, 1, 1),
            datetime.datetime(2020, 1, 2, 3), datetime.date(2020, 1, 3),
            b"ab", [(k, "a")], {"q": 1.0}, (5,),
        )

    tgt = str(tmp_path / "t")
    write_manifest_table(
        spark, spark.createDataFrame([] if empty else [row(1), row(2)], schema), tgt
    )
    mor_upsert(
        spark, tgt, spark.createDataFrame([] if empty else [row(2)], schema), ["k"]
    )
    dirs = [
        f"{tgt}/_data/{d}"
        for d in [manifest_version(spark, tgt)] + mor_deltas(spark, tgt)
    ]
    assert len(dirs) == 2, dirs
    for d in dirs:
        fresh = spark.read.option("mergeSchema", "true").parquet(d).schema
        assert _DIR_SCHEMA_CACHE[d] == fresh, (d, _DIR_SCHEMA_CACHE[d], fresh)
        assert _DIR_SCHEMA_CACHE[d]["k"].metadata == {"comment": "key"}
    assert read_manifest_table(spark, tgt).count() == (0 if empty else 2)


def test_mor_backlog_scan_prunes_base_files(spark, tmp_path):
    """ROUND-9 HEADLINE (round-8 verdict item 1): with a LIVE backlog,
    scan()/read_stats_pruned/read_bloom_pruned keep skipping — the
    sidecars prune the immutable BASE on the untouched branch and the
    resolved deltas union on top. Pins (a) results equal to the plain
    resolved read + filter, including rows the deltas moved INTO the
    probed range, and (b) the base-side file-open count via
    scan_plan(base_only=True)."""
    from async_pipes_spark.sources.stats import (
        read_bloom_pruned,
        read_stats_pruned,
        scan,
        scan_plan,
        write_file_bloom,
        write_file_stats,
    )

    tgt = str(tmp_path / "bs")
    base = (
        spark.range(400)
        .select(
            F.col("id").alias("k"), F.lit(0).alias("ver"),
            F.col("id").cast("string").alias("s"), F.lit(False).alias("dead"),
        )
        .repartitionByRange(8, "k")
        .sortWithinPartitions("k")
    )
    write_manifest_table(spark, base, tgt)
    write_file_stats(spark, tgt, ["k"])
    write_file_bloom(spark, tgt, ["s"])

    # backlog: move key 399 INTO the probed range, update key 5 inside
    # it, tombstone key 6, and leave an untouched duplicate-free base
    mor_upsert(
        spark, tgt,
        spark.createDataFrame(
            [(399, 1, "moved", False), (5, 1, "five", False),
             (6, 1, "6", True)],
            SCHEMA,
        ),
        ["k"], version_cols=["ver"], tombstone_col="dead",
    )
    assert mor_deltas(spark, tgt) != []

    # (a) base pruning engaged: the plan opens a strict minority of
    # base files for a narrow range
    kept, total = scan_plan(spark, tgt, bounds={"k": (4, 8)}, base_only=True)
    assert kept is not None and total >= 8
    assert len(kept) < total, (len(kept), total)

    # (b) results = resolved read + filter, deltas included
    want = sorted(
        (r["k"], r["ver"], r["s"], r["dead"])
        for r in read_manifest_table(spark, tgt)
        .where((F.col("k") >= 4) & (F.col("k") <= 8)).collect()
    )
    assert (5, 1, "five", False) in want and (6, 1, "6", True) in want
    got = _rows(scan(spark, tgt, bounds={"k": (4, 8)}))
    assert got == want
    assert _rows(read_stats_pruned(spark, tgt, {"k": (4, 8)})) == want
    # bloom path: the delta's NEW value is found though no base file
    # admits it
    assert _rows(read_bloom_pruned(spark, tgt, "s", "moved")) == [
        (399, 1, "moved", False)
    ]
    assert _rows(read_bloom_pruned(spark, tgt, "s", "five")) == [
        (5, 1, "five", False)
    ]
    # superseded base value: key 5's old s='5' row lost to the delta
    assert _rows(read_bloom_pruned(spark, tgt, "s", "5")) == []


def test_mor_backlog_scan_partitioned_mapping_prune(spark, tmp_path):
    """Partition-mapping pruning stays ON under a partitioned-manifest
    backlog: untouched rows read from the probed partitions only,
    contested keys resolve against the full generation (a key MOVED
    into the probed partition wins; its old row doesn't resurrect)."""
    from async_pipes_spark.sources.sinks import (
        read_partitioned_manifest,
        write_partitioned_manifest_table,
    )
    from async_pipes_spark.sources.stats import scan

    tgt = str(tmp_path / "ps")
    rows = [(k, k % 3, f"s{k}", False) for k in range(60)]
    write_partitioned_manifest_table(
        spark, spark.createDataFrame(rows, SCHEMA), tgt, ["ver"]
    )
    # move key 7 (ver 7%3=1) into partition ver=2; update key 9 in place
    mor_upsert(
        spark, tgt,
        spark.createDataFrame(
            [(7, 2, "moved7", False), (9, 2, "nine", False)], SCHEMA
        ),
        ["k"],
    )
    assert mor_deltas(spark, tgt) != []
    want = sorted(
        (r["k"], r["ver"], r["s"], r["dead"])
        for r in read_partitioned_manifest(spark, tgt)
        .where(F.col("ver") == 2).collect()
    )
    assert (7, 2, "moved7", False) in want and (9, 2, "nine", False) in want
    assert _rows(scan(spark, tgt, eq={"ver": 2})) == want
    # ... and the probed-out partitions don't leak the moved key's old row
    assert _rows(scan(spark, tgt, eq={"ver": 1})) == sorted(
        (k, 1, f"s{k}", False) for k in range(60) if k % 3 == 1 and k != 7
    )


def test_mor_pmanifest_randomized_model(spark, tmp_path):
    """The PARTITIONED-flavor twin of the randomized model test (round-8
    verdict item 6): random interleavings of mor_upsert (keys MOVE
    partitions every update — the worst case for a partitioned lake),
    pruned COW merges, tombstone purges, compactions, z-order rewrites,
    generation RESTOREs, and the mixed-spec guard, against the same
    Python model. After every step the live read equals the model and
    the partition-pruned scan() equals the model's slice."""
    from async_pipes_spark.sources.sinks import (
        partitioned_manifest_generations,
        write_partitioned_manifest_table,
    )
    from async_pipes_spark.sources.stats import scan

    for seed in (5, 61):
        rng = random.Random(seed)
        tgt = str(tmp_path / f"pmodel{seed}")
        model: dict = {}
        init = [(k, 0, f"s{k}", False) for k in range(6)]
        for k, v, s, d in init:
            model[k] = (v, s, d)
        write_partitioned_manifest_table(
            spark, spark.createDataFrame(init, SCHEMA), tgt, ["ver"],
            keep_versions=3,
        )
        snap = {partitioned_manifest_generations(spark, tgt)[0]: dict(model)}
        ver = 0

        def apply_model(rows):
            for k, v, s, d in rows:
                if k not in model or v > model[k][0]:
                    model[k] = (v, s, d)

        for _step in range(12):
            op = rng.choice(
                ["mor", "mor", "mor", "merge", "purge",
                 "compact", "restore", "zorder", "badspec"]
            )
            backlog = bool(mor_deltas(spark, tgt))
            if op == "mor":
                rows = []
                for _ in range(rng.randrange(1, 4)):
                    ver += 1
                    rows.append(
                        (rng.randrange(8), ver, f"v{ver}", rng.random() < 0.25)
                    )
                apply_model(rows)
                mor_upsert(
                    spark, tgt, spark.createDataFrame(rows, SCHEMA), ["k"],
                    version_cols=["ver"], tombstone_col="dead",
                )
            elif op == "merge":
                ver += 1
                rows = [(rng.randrange(8), ver, f"v{ver}", False)]
                bdf = spark.createDataFrame(rows, SCHEMA)
                if backlog:
                    with pytest.raises(ValueError, match="merge-on-read"):
                        merge_upsert(spark, tgt, bdf, ["k"],
                                     partition_by=["ver"],
                                     version_cols=["ver"],
                                     tombstone_col="dead")
                else:
                    apply_model(rows)
                    merge_upsert(spark, tgt, bdf, ["k"],
                                 partition_by=["ver"],
                                 version_cols=["ver"], tombstone_col="dead")
            elif op == "purge":
                if backlog:
                    with pytest.raises(ValueError, match="merge-on-read"):
                        purge_tombstones(spark, tgt, "dead",
                                         partition_by=["ver"])
                else:
                    purged = purge_tombstones(spark, tgt, "dead",
                                              partition_by=["ver"])
                    assert purged == sum(1 for v in model.values() if v[2])
                    for k in [k for k, v in model.items() if v[2]]:
                        del model[k]
            elif op == "restore":
                to = rng.choice(partitioned_manifest_generations(spark, tgt))
                restore_manifest_table(spark, tgt, to)
                model = dict(snap[to])
            elif op == "zorder":
                optimize_zorder(
                    spark, tgt, ["k", "ver"], target_rows_per_file=1000
                )
                assert mor_deltas(spark, tgt) == []
            elif op == "badspec":
                if backlog:
                    with pytest.raises(ValueError, match="spec mismatch"):
                        mor_upsert(
                            spark, tgt,
                            spark.createDataFrame(
                                [(1, 999, "bad", False)], SCHEMA
                            ),
                            ["k"], version_cols=["ver", "k"],
                            tombstone_col="dead",
                        )
            else:
                compact_small_files(spark, tgt, target_rows_per_file=1000)
                assert mor_deltas(spark, tgt) == []
            snap[partitioned_manifest_generations(spark, tgt)[0]] = dict(model)
            want = sorted((k, v, s, d) for k, (v, s, d) in model.items())
            got = _rows(read_partitioned_manifest(spark, tgt))
            assert got == want, (seed, _step, op)
            # partition-pruned scan equals the model's slice, backlog
            # or not (the delta-aware mapping prune)
            if model:
                pv = rng.choice([v for v, _s, _d in model.values()])
                want_slice = sorted(
                    (k, v, s, d)
                    for k, (v, s, d) in model.items() if v == pv
                )
                assert _rows(scan(spark, tgt, eq={"ver": pv})) == want_slice, (
                    seed, _step, op, pv,
                )


def test_mor_contested_scan_plans_by_key_sidecars(spark, tmp_path):
    """VERSIONED backlogs: the contested semi-join side of a PLANNED
    read opens only base files the KEY sidecars admit for the delta
    key set (stats._mor_contested_plan — the equality-delete→data-file
    mapping, recovered from blooms + footer stats), never the whole
    base. Results stay exact, including the stale-delta-loses case."""
    from async_pipes_spark.sources.stats import (
        _mor_contested_plan,
        prune_files_bloom_any,
        scan,
        write_file_bloom,
        write_file_stats,
    )

    tgt = str(tmp_path / "ck")
    base = (
        spark.range(600)
        .select(
            F.col("id").alias("k"), F.lit(0).alias("ver"),
            F.concat(F.lit("s"), F.col("id")).alias("s"),
            F.lit(False).alias("dead"),
        )
        .repartitionByRange(8, "k")
        .sortWithinPartitions("k")
    )
    write_manifest_table(spark, base, tgt)
    # KEY sidecars: stats (k is numeric + clustered) AND bloom
    write_file_stats(spark, tgt, ["k"])
    write_file_bloom(spark, tgt, ["k"])

    # delta 1 wins on key 7; delta 2 is stale on key 580 (loses)
    mor_upsert(
        spark, tgt,
        spark.createDataFrame([(7, 5, "seven", False)], SCHEMA),
        ["k"], version_cols=["ver"],
    )
    mor_upsert(
        spark, tgt,
        spark.createDataFrame([(580, -1, "stale", False)], SCHEMA),
        ["k"], version_cols=["ver"],
    )
    deltas = mor_deltas(spark, tgt)
    assert len(deltas) == 2

    # the contested plan: a strict minority of base files (keys 7 and
    # 580 live in ~2 of the 8 range-clustered files)
    ckept = _mor_contested_plan(spark, tgt, deltas)
    assert ckept is not None
    assert 1 <= len(ckept) <= 4, ckept

    # any-of bloom planning alone agrees
    plan = prune_files_bloom_any(spark, tgt, "k", [7, 580], base_only=True)
    assert plan is not None and len(plan[0]) < plan[1]

    # exactness through the planned read: winner replaces, stale loses
    got = _rows(scan(spark, tgt, bounds={"k": (0, 599)}))
    want = sorted(
        [(7, 5, "seven", False)]
        + [(k, 0, f"s{k}", False) for k in range(600) if k != 7]
    )
    assert got == want


def test_mor_dup_key_base_model_property(spark, tmp_path):
    """Seeded property: bases with DUPLICATE keys (written directly —
    COW merges never create them, which is why the r8 parity net
    missed the row-loss bug) + random delta batches resolve to the
    exact keep/contested model: untouched key groups survive
    row-for-row, contested key groups collapse to the single (ver,
    src)-max winner — including when the BASE row wins (stale deltas)
    and including the COW rank-1 collapse of a contested duplicate
    group. Versions are unique per key so no hash tie-break is
    involved and the model is exact in Python."""
    for seed in (11, 29):
        rng = random.Random(seed)
        tgt = str(tmp_path / f"dupprop{seed}")
        # base: 30 rows over 10 keys -> guaranteed duplicate groups;
        # unique version per row within each key group
        rows, per_key = [], {}
        for i in range(30):
            k = rng.randrange(10)
            v = per_key.get(k, 0) + rng.randrange(1, 4)
            per_key[k] = v
            rows.append((k, v, f"b{k}_{v}", False))
        write_manifest_table(spark, spark.createDataFrame(rows, SCHEMA), tgt)
        # groups[k] = list of (v, s, d) base rows
        groups: dict = {}
        for k, v, s, d in rows:
            groups.setdefault(k, []).append((v, s, d))
        contested: dict = {}  # k -> (ver, src, row) current winner
        src = 0
        for _batch in range(3):
            src += 1
            batch = []
            for _ in range(rng.randrange(1, 4)):
                k = rng.randrange(10)
                # half the updates are STALE (version below the base
                # max), half are fresh wins
                base_max = max(v for v, _s, _d in groups.get(k, [(0, "", False)]))
                v = (
                    base_max + rng.randrange(1, 5)
                    if rng.random() < 0.5
                    else max(0, base_max - rng.randrange(1, 3))
                )
                batch.append((k, v, f"u{src}_{v}", False))
            mor_upsert(
                spark, tgt, spark.createDataFrame(batch, SCHEMA), ["k"],
                version_cols=["ver"],
            )
            for k, v, s, d in batch:
                cur = contested.get(k)
                # later source wins version ties (within a batch the
                # rng rarely collides; across batches src breaks it)
                if cur is None or (v, src) >= (cur[0], cur[1]):
                    contested[k] = (v, src, (k, v, s, d))
        want = []
        for k, grp in groups.items():
            if k not in contested:
                want.extend((k, v, s, d) for v, s, d in grp)  # verbatim
        for k, (v, src_i, row) in contested.items():
            # the contested group's winner: the delta row, UNLESS some
            # base row of the key outranks it (stale delta) — then COW
            # rank-1 keeps exactly ONE base row, the (ver)-max
            base_grp = groups.get(k, [])
            base_best = max(
                ((bv, bs, bd) for bv, bs, bd in base_grp), default=None
            )
            if base_best is not None and base_best[0] > v:
                bv, bs, bd = base_best
                want.append((k, bv, bs, bd))
            else:
                want.append(row)
        assert _rows(read_manifest_table(spark, tgt)) == sorted(
            want, key=lambda t: tuple((x is None, x) for x in t)
        ), seed
        # compaction persists the identical table
        compact_small_files(spark, tgt, target_rows_per_file=1000)
        assert _rows(read_manifest_table(spark, tgt)) == sorted(
            want, key=lambda t: tuple((x is None, x) for x in t)
        ), seed


def test_mor_evil_ancestor_dir(spark, tmp_path):
    """Prefix-proof delta attribution (round 10): resolution keys each
    scanned file on the segment after the LAST '/_data/' in its URI,
    so an ANCESTOR directory named like a delta dir (a pathological
    temp root — the r9 driver-divergence suspect) cannot misattribute
    rows. Unversioned spec makes _src the sole winner-picker: under
    the old whole-path contains() match, relocating the table beneath
    a dir named after the NEWER delta made every file 'belong' to it
    and both generations of a contested key survived."""
    import shutil

    path = str(tmp_path / "t")
    write_manifest_table(
        spark,
        spark.createDataFrame([(1, "base")], "k int, v string"),
        path,
    )
    up = spark.createDataFrame([(1, "first")], "k int, v string")
    mor_upsert(spark, path, up, ["k"])  # unversioned: later delta wins
    mor_upsert(
        spark, path,
        spark.createDataFrame([(1, "second")], "k int, v string"),
        ["k"],
    )
    deltas = mor_deltas(spark, path)
    assert len(deltas) == 2
    # relocate the WHOLE table under ancestors named after the newer
    # delta and a literal '_data' segment — both pathological shapes
    evil = tmp_path / deltas[1] / "_data" / "x"
    evil.mkdir(parents=True)
    shutil.move(path, str(evil / "t"))
    out = read_manifest_table(spark, str(evil / "t")).collect()
    assert [(r["k"], r["v"]) for r in out] == [(1, "second")]


def test_read_small_file_local_native(spark, tmp_path):
    """r12: control files on the local filesystem read natively in
    the driver (no py4j) — same bytes, same None-when-absent, and
    non-local schemes still route to the Hadoop stream."""
    from async_pipes_spark.sources.sinks import _local_fs_path, _read_small_file

    p = f"{tmp_path}/_ptr"
    body = "v_0001\n#seq=3\n"
    with open(p, "w", encoding="utf-8") as f:
        f.write(body)
    assert _read_small_file(spark, p) == body
    assert _read_small_file(spark, f"file://{p}") == body
    assert _read_small_file(spark, f"file:{p}") == body
    assert _read_small_file(spark, f"{tmp_path}/_absent") is None
    assert _local_fs_path("s3a://bucket/x") is None  # object store: Hadoop lane
    assert _local_fs_path("file://host/p") is None  # remote authority: Hadoop lane
    assert _local_fs_path("/plain/path") == "/plain/path"
