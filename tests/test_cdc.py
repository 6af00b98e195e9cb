"""Change-data-feed over merge-on-read backlogs (sources.cdc).

The contract under test is snapshot-exact: the feed equals the
per-key MULTISET diff between the base snapshot's live rows and the
resolved read's live rows (insert = key gained, delete = key lost,
update = key's row multiset changed — one pre-image per dying base
row, one post-image per surviving row), and APPLYING the feed to the
base's live rows reproduces the resolved live rows exactly, as
multisets. Both properties are checked against randomized backlogs
(NULL keys, version ties, tombstones, duplicate-key bases), both
manifest flavors, schema evolution, and the plan/pruning shape.
"""

from __future__ import annotations

import contextlib
import io
import random
from collections import Counter

import pytest
from pyspark.sql import functions as F

from async_pipes_spark.sources.cdc import mor_changes
from async_pipes_spark.sources.sinks import (
    compact_small_files,
    merge_upsert,
    mor_deltas,
    mor_upsert,
    read_table,
    write_manifest_table,
    write_partitioned_manifest_table,
)

from tests.conftest import jobs_launched

SCHEMA = "k bigint, ver bigint, s string, dead boolean"
COLS = ("k", "ver", "s", "dead")


def _live_rows(df, cols=COLS, tomb="dead"):
    """Collected live rows with the tombstone column normalized, as a
    sorted list of tuples (multiset semantics via duplicates)."""
    if tomb:
        df = df.withColumn(tomb, F.coalesce(F.col(tomb), F.lit(False)))
        df = df.where(~F.col(tomb))
    return sorted(
        (tuple(r) for r in df.select(*cols).collect()),
        key=lambda t: tuple((x is None, x) for x in t),
    )


def _expected_feed(base_live, resolved_live, key_idx=0):
    """The snapshot-diff definition of the feed, computed in plain
    Python from the two LIVE row multisets (non-NULL keys only —
    NULL-key rows have no cross-snapshot identity and are covered by
    their own test)."""
    by_key_b: dict = {}
    by_key_r: dict = {}
    for row in base_live:
        if row[key_idx] is not None:
            by_key_b.setdefault(row[key_idx], Counter())[row] += 1
    for row in resolved_live:
        if row[key_idx] is not None:
            by_key_r.setdefault(row[key_idx], Counter())[row] += 1
    expected: Counter = Counter()
    for k in set(by_key_b) | set(by_key_r):
        b = by_key_b.get(k, Counter())
        r = by_key_r.get(k, Counter())
        if b == r:
            continue
        if not b:
            for row, n in r.items():
                expected[row + ("insert",)] += n
        elif not r:
            for row, n in b.items():
                expected[row + ("delete",)] += n
        else:
            for row, n in b.items():
                expected[row + ("update_preimage",)] += n
            for row, n in r.items():
                expected[row + ("update_postimage",)] += n
    return expected


def _feed_counter(feed_df, cols=COLS):
    rows = feed_df.select(*cols, "_change_type").collect()
    return Counter(tuple(r) for r in rows)


def _apply_feed(base_live, feed: Counter):
    """base_live − {pre, delete} ∪ {insert, post} as multisets."""
    out = Counter(base_live)
    for row, n in feed.items():
        *vals, ct = row
        if ct in ("update_preimage", "delete"):
            out[tuple(vals)] -= n
        else:
            out[tuple(vals)] += n
    assert all(v >= 0 for v in out.values()), "feed removed absent rows"
    return Counter({r: n for r, n in out.items() if n > 0})


def _random_batch(rng, ver0, n, null_keys=False):
    rows = []
    for i in range(n):
        k = rng.randrange(10)
        if null_keys and rng.random() < 0.15:
            k = None
        ver = ver0 + rng.randrange(n)
        rows.append((k, ver, f"s{ver}_{i}", rng.random() < 0.25))
    return rows


def test_mor_changes_randomized_snapshot_oracle(spark, tmp_path):
    """PROPERTY: for random versioned backlogs (ties, tombstones,
    stale rows) the feed equals the snapshot multiset diff, and
    applying it to base-live reproduces resolved-live."""
    for seed in (3, 17, 41):
        rng = random.Random(seed)
        path = str(tmp_path / f"t{seed}")
        seed_rows = [(k, 5, f"init{k}", k % 4 == 3) for k in range(6)]
        write_manifest_table(spark, spark.createDataFrame(seed_rows, SCHEMA), path)
        base_live = _live_rows(read_table(spark, path))
        ver = 0
        for _ in range(rng.randrange(1, 4)):
            batch = _random_batch(rng, ver, rng.randrange(2, 6))
            ver += 10
            mor_upsert(
                spark, path, spark.createDataFrame(batch, SCHEMA),
                key_cols=["k"], version_cols=["ver"], tombstone_col="dead",
            )
        feed = _feed_counter(mor_changes(spark, path))
        resolved_live = _live_rows(read_table(spark, path))
        assert feed == _expected_feed(base_live, resolved_live), f"seed {seed}"
        assert _apply_feed(base_live, feed) == Counter(resolved_live)


def test_mor_changes_noop_and_stale_delta(spark, tmp_path):
    """A delta row that LOSES last-writer-wins to the base row, and a
    delta that rewrites a row to identical contents, both emit
    nothing; a genuinely newer row emits one pre/post pair."""
    path = str(tmp_path / "t")
    base = [(1, 10, "a", False), (2, 10, "b", False), (3, 10, "c", False)]
    write_manifest_table(spark, spark.createDataFrame(base, SCHEMA), path)
    updates = [
        (1, 5, "stale", False),     # loses to base ver 10 → no-op
        (2, 10, "b", False),        # identical rewrite → no-op
        (3, 20, "c2", False),       # real update
    ]
    mor_upsert(
        spark, path, spark.createDataFrame(updates, SCHEMA),
        key_cols=["k"], version_cols=["ver"], tombstone_col="dead",
    )
    feed = _feed_counter(mor_changes(spark, path))
    assert feed == Counter({
        (3, 10, "c", False, "update_preimage"): 1,
        (3, 20, "c2", False, "update_postimage"): 1,
    })


def test_mor_changes_duplicate_key_base(spark, tmp_path):
    """Duplicate-key base rows each get their own pre-image when
    contested — the multiset algebra the apply contract needs — and
    survive silently when untouched."""
    path = str(tmp_path / "t")
    base = [(1, 0, "a1", False), (1, 0, "a2", False),
            (2, 0, "b1", False), (2, 0, "b2", False)]
    write_manifest_table(spark, spark.createDataFrame(base, SCHEMA), path)
    mor_upsert(
        spark, path,
        spark.createDataFrame([(2, 9, "B", False)], SCHEMA),
        key_cols=["k"], version_cols=["ver"], tombstone_col="dead",
    )
    feed = _feed_counter(mor_changes(spark, path))
    assert feed == Counter({
        (2, 0, "b1", False, "update_preimage"): 1,
        (2, 0, "b2", False, "update_preimage"): 1,
        (2, 9, "B", False, "update_postimage"): 1,
    })
    base_live = [(1, 0, "a1", False), (1, 0, "a2", False),
                 (2, 0, "b1", False), (2, 0, "b2", False)]
    assert _apply_feed(base_live, feed) == Counter(
        _live_rows(read_table(spark, path))
    )


def test_mor_changes_tombstone_lifecycle(spark, tmp_path):
    """delete of a live base key; insert-then-tombstone inside the
    backlog nets to NOTHING; a key whose base row is already a
    tombstone reads as an INSERT when a delta revives it."""
    path = str(tmp_path / "t")
    base = [(1, 0, "a", False), (2, 0, "b", False), (3, 0, "dead3", True)]
    write_manifest_table(spark, spark.createDataFrame(base, SCHEMA), path)
    mor_upsert(
        spark, path,
        spark.createDataFrame(
            [(1, 9, None, True), (7, 1, "new7", False), (3, 9, "alive3", False)],
            SCHEMA,
        ),
        key_cols=["k"], version_cols=["ver"], tombstone_col="dead",
    )
    mor_upsert(
        spark, path,
        spark.createDataFrame([(7, 2, None, True)], SCHEMA),
        key_cols=["k"], version_cols=["ver"], tombstone_col="dead",
    )
    feed = _feed_counter(mor_changes(spark, path))
    assert feed == Counter({
        (1, 0, "a", False, "delete"): 1,
        (3, 9, "alive3", False, "insert"): 1,
    })


def test_mor_changes_null_keys(spark, tmp_path):
    """NULL-key delta survivors are inserts; NULL-key base rows are
    never contested and never appear in the feed."""
    path = str(tmp_path / "t")
    base = [(None, 0, "base_null", False), (1, 0, "a", False)]
    write_manifest_table(spark, spark.createDataFrame(base, SCHEMA), path)
    mor_upsert(
        spark, path,
        spark.createDataFrame(
            [(None, 5, "d_null_lo", False), (None, 9, "d_null_hi", False)],
            SCHEMA,
        ),
        key_cols=["k"], version_cols=["ver"], tombstone_col="dead",
    )
    feed = _feed_counter(mor_changes(spark, path))
    # within one delta batch NULL-key rows resolve among themselves
    # (versioned spec): one winner → one insert
    assert feed == Counter({(None, 9, "d_null_hi", False, "insert"): 1})

    # one backlog on a composite key: several NULL-key survivors (any
    # NULL component, across batches), NULL-component base rows, and
    # contested non-null keys classified beside them
    schema2 = "k bigint, g string, ver bigint, s string, dead boolean"
    cols2 = ("k", "g", "ver", "s", "dead")
    path2 = str(tmp_path / "t2")
    base2 = [
        (1, "a", 0, "a1", False), (2, "b", 0, "b1", False),
        (3, "c", 0, "c1", False), (None, "x", 0, "base_nk", False),
        (4, None, 0, "base_ng", False),
    ]
    write_manifest_table(spark, spark.createDataFrame(base2, schema2), path2)
    for batch in (
        [
            (None, "x", 5, "nk_x_lo", False),   # loses within its batch
            (None, "x", 7, "nk_x_hi", False),
            (None, "y", 1, "nk_y", False),
            (5, None, 1, "ng_5", False),
            (None, None, 1, "nn", False),
            (1, "a", 3, "a2", False),           # update
            (2, "b", 0, "b1", False),           # identical rewrite: no-op
            (3, "c", 4, "c_dead", True),        # delete
            (6, "f", 1, "f1", False),           # insert
        ],
        [
            (5, None, 2, "ng_5_again", False),  # a NULL key never matches
            (None, "y", 9, "nk_y_dead", True),  # a dead NULL-key winner
            (1, "a", 2, "a_stale", False),      # loses to a2
        ],
    ):
        mor_upsert(
            spark, path2, spark.createDataFrame(batch, schema2),
            key_cols=["k", "g"], version_cols=["ver"], tombstone_col="dead",
        )
    feed2 = _feed_counter(mor_changes(spark, path2), cols2)
    survivors = [
        (None, "x", 7, "nk_x_hi", False), (None, "y", 1, "nk_y", False),
        (5, None, 1, "ng_5", False), (None, None, 1, "nn", False),
        (5, None, 2, "ng_5_again", False),
    ]
    assert feed2 == Counter({
        **{row + ("insert",): 1 for row in survivors},
        (6, "f", 1, "f1", False, "insert"): 1,
        (1, "a", 0, "a1", False, "update_preimage"): 1,
        (1, "a", 3, "a2", False, "update_postimage"): 1,
        (3, "c", 0, "c1", False, "delete"): 1,
    })
    base2_live = _live_rows(spark.createDataFrame(base2, schema2), cols2)
    assert _apply_feed(base2_live, feed2) == Counter(
        _live_rows(read_table(spark, path2), cols2)
    )


def test_mor_changes_pin_job_count(spark, tmp_path):
    """Pinning one feed of a versioned delta over a flat manifest table
    costs 4 Spark jobs: one keyed window pass classifies every changed
    key, and the resolver under it runs one shuffle — the delta keys
    are broadcast without a distinct, and NULL-key rows resolve in the
    keyed window."""
    from async_pipes_spark.session import pin

    path = str(tmp_path / "t")
    base = [(k, 0, f"i{k}", False) for k in range(20)]
    write_manifest_table(spark, spark.createDataFrame(base, SCHEMA), path)
    mor_upsert(
        spark, path,
        spark.createDataFrame(
            [(3, 1, "u3", False), (4, 1, None, True), (25, 1, "n25", False),
             (None, 1, "nk", False)],
            SCHEMA,
        ),
        key_cols=["k"], version_cols=["ver"], tombstone_col="dead",
    )
    feed = mor_changes(spark, path)
    pinned = []
    jobs = jobs_launched(spark, lambda: pinned.append(pin(feed)))
    assert _feed_counter(pinned[0]) == Counter({
        (3, 0, "i3", False, "update_preimage"): 1,
        (3, 1, "u3", False, "update_postimage"): 1,
        (4, 0, "i4", False, "delete"): 1,
        (25, 1, "n25", False, "insert"): 1,
        (None, 1, "nk", False, "insert"): 1,
    })
    assert jobs == 4, jobs


def test_mor_changes_build_launches_no_job(spark, tmp_path):
    """Building the feed of a sidecar-less table right after the write
    launches no Spark job: the writers recorded the base and delta
    dirs' schemas, and the contested-scan planner sees that no sidecar
    exists before it would collect the delta keys (3 jobs when both
    schemas were inferred and the keys collected)."""
    path = str(tmp_path / "t")
    base = [(k, 0, f"i{k}", False) for k in range(20)]
    write_manifest_table(spark, spark.createDataFrame(base, SCHEMA), path)
    mor_upsert(
        spark, path,
        spark.createDataFrame(
            [(3, 1, "u3", False), (4, 1, None, True), (25, 1, "n25", False)],
            SCHEMA,
        ),
        key_cols=["k"], version_cols=["ver"], tombstone_col="dead",
    )
    feed = []
    assert jobs_launched(spark, lambda: feed.append(mor_changes(spark, path))) == 0
    assert _feed_counter(feed[0]) == Counter({
        (3, 0, "i3", False, "update_preimage"): 1,
        (3, 1, "u3", False, "update_postimage"): 1,
        (4, 0, "i4", False, "delete"): 1,
        (25, 1, "n25", False, "insert"): 1,
    })


def test_mor_changes_sidecar_lane_parity(spark, tmp_path):
    """The same backlog over the same base gives the same feed whether
    the base carries a key bloom sidecar (the contested scan opens only
    the files that may hold a delta key) or none (the full base) — for
    the whole backlog and for a cursored read of its tail."""
    from async_pipes_spark.sources.stats import write_file_bloom

    rng = random.Random(11)
    base = spark.range(0, 400).select(
        F.col("id").alias("k"),
        F.lit(0).cast("bigint").alias("ver"),
        F.concat(F.lit("s"), F.col("id")).alias("s"),
        F.lit(False).alias("dead"),
    ).repartition(8, "k")
    batches = [
        [(rng.choice((3, 7, 11, 401, 402)), v, f"b{v}_{i}",
          rng.random() < 0.25)
         for i in range(6)]
        for v in (1, 2, 3)
    ]
    feeds = []
    for name, bloom in (("plain", False), ("bloom", True)):
        path = str(tmp_path / name)
        write_manifest_table(spark, base, path)
        if bloom:
            write_file_bloom(spark, path, "k")
        for b in batches:
            mor_upsert(
                spark, path, spark.createDataFrame(b, SCHEMA),
                key_cols=["k"], version_cols=["ver"], tombstone_col="dead",
            )
        first = mor_deltas(spark, path)[0]
        full = mor_changes(spark, path)
        base_opened = [f for f in full.inputFiles() if "/_data/v_" in f]
        feeds.append((
            _feed_counter(full),
            _feed_counter(mor_changes(spark, path, since=first)),
            len(base_opened),
        ))
    (plain_full, plain_inc, plain_opened), (bloom_full, bloom_inc, bloom_opened) = feeds
    assert plain_full and plain_inc
    assert bloom_full == plain_full
    assert bloom_inc == plain_inc
    assert bloom_opened < plain_opened, (bloom_opened, plain_opened)


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def test_mor_broadcast_gate_lane_parity(spark, tmp_path, monkeypatch):
    """The resolver and the feed return the same rows whether the delta
    keys are broadcast (default gate) or joined by sort-merge (gate
    forced to 0, automatic broadcast off). The backlog repeats keys
    within a delta and across deltas, carries NULL-key rows in two
    deltas on a composite key with one NULL component, and ties equal
    versions — the non-distinct semi/anti joins and the NULL-key rows
    resolved in the keyed window, on both lanes."""
    import async_pipes_spark.sources.sinks as sinks_mod

    schema = "k bigint, g string, ver bigint, s string, dead boolean"
    cols = ("k", "g", "ver", "s", "dead")
    path = str(tmp_path / "t")
    base = [
        (1, "a", 0, "a0", False), (1, "a", 0, "a0_dup", False),
        (2, "b", 0, "b0", False), (3, "c", 5, "c0", False),
        (None, "x", 0, "base_nk", False), (4, None, 0, "base_ng", False),
        (9, "z", 0, "z0", False),
    ]
    write_manifest_table(spark, spark.createDataFrame(base, schema), path)
    for batch in (
        [
            (1, "a", 2, "a2", False), (1, "a", 3, "a3", False),
            (2, "b", 1, "b1", False),
            (None, "x", 4, "nk_lo", False), (None, "x", 6, "nk_hi", False),
            (5, None, 1, "ng5", False),
            (7, "g", 1, "g1", False),
            (8, "h", 1, "h_x", False), (8, "h", 1, "h_y", False),
        ],
        [
            (1, "a", 1, "a_stale", False),
            (2, "b", 1, "b1_tie", False),    # equal version: later delta wins
            (3, "c", 5, "c_tie", False),     # equal version: delta beats base
            (None, "x", 1, "nk2", False),    # own batch: survives beside nk_hi
            (5, None, 0, "ng5_2", False),
            (7, "g", 2, "g_dead", True),
        ],
    ):
        mor_upsert(
            spark, path, spark.createDataFrame(batch, schema),
            key_cols=["k", "g"], version_cols=["ver"], tombstone_col="dead",
        )
    first = mor_deltas(spark, path)[0]

    def lane():
        return (
            Counter(tuple(r) for r in read_table(spark, path).select(*cols).collect()),
            _feed_counter(mor_changes(spark, path), cols),
            _feed_counter(mor_changes(spark, path, since=first), cols),
            _plan(read_table(spark, path)),
        )

    read_b, feed_b, inc_b, plan_b = lane()
    monkeypatch.setattr(sinks_mod, "_MOR_BROADCAST_MAX_BYTES", 0)
    confs = ("spark.sql.autoBroadcastJoinThreshold",
             "spark.sql.adaptive.autoBroadcastJoinThreshold")
    saved = {c: spark.conf.get(c, None) for c in confs}
    try:
        for c in confs:
            spark.conf.set(c, "-1")
        read_s, feed_s, inc_s, plan_s = lane()
    finally:
        for c, v in saved.items():
            if v is None:
                spark.conf.unset(c)
            else:
                spark.conf.set(c, v)
    assert "BroadcastHashJoin" in plan_b, plan_b
    assert "BroadcastHashJoin" not in plan_s and "SortMergeJoin" in plan_s, plan_s
    assert read_s == read_b
    assert feed_s == feed_b
    assert inc_s == inc_b
    live = +Counter({r: n for r, n in read_b.items() if not r[4]})
    h = [r for r in live if r[0] == 8]
    assert len(h) == 1 and h[0][3] in ("h_x", "h_y"), h
    assert live == Counter({
        (1, "a", 3, "a3", False): 1, (2, "b", 1, "b1_tie", False): 1,
        (3, "c", 5, "c_tie", False): 1, (None, "x", 0, "base_nk", False): 1,
        (4, None, 0, "base_ng", False): 1, (9, "z", 0, "z0", False): 1,
        (None, "x", 6, "nk_hi", False): 1, (None, "x", 1, "nk2", False): 1,
        (5, None, 1, "ng5", False): 1, (5, None, 0, "ng5_2", False): 1,
        h[0]: 1,
    })


def test_mor_changes_empty_backlog_schema(spark, tmp_path):
    path = str(tmp_path / "t")
    write_manifest_table(
        spark, spark.createDataFrame([(1, 0, "a", False)], SCHEMA), path
    )
    feed = mor_changes(spark, path)
    assert feed.count() == 0
    assert feed.columns == ["k", "ver", "s", "dead", "_change_type"]


def test_mor_changes_unversioned_spec(spark, tmp_path):
    """Unconditional-replace spec: every contested base row dies, ALL
    rows of the newest delta survive (no within-batch dedup) — and an
    identical rewrite still nets to nothing."""
    path = str(tmp_path / "t")
    base = [(1, 0, "a", False), (2, 0, "b", False)]
    write_manifest_table(spark, spark.createDataFrame(base, SCHEMA), path)
    mor_upsert(
        spark, path,
        spark.createDataFrame(
            [(1, 1, "x1", False), (1, 2, "x2", False), (2, 0, "b", False)],
            SCHEMA,
        ),
        key_cols=["k"],
    )
    feed = _feed_counter(mor_changes(spark, path))
    assert feed == Counter({
        (1, 0, "a", False, "update_preimage"): 1,
        (1, 1, "x1", False, "update_postimage"): 1,
        (1, 2, "x2", False, "update_postimage"): 1,
    })
    base_live = list(map(tuple, base))
    assert _apply_feed(base_live, feed) == Counter(
        _live_rows(read_table(spark, path), tomb=None)
    )


def test_mor_changes_pmanifest(spark, tmp_path):
    """Partitioned-manifest flavor: same feed semantics through the
    generation-mapping base read, including a key that MOVES
    partition (partition column is an ordinary column in the feed)."""
    path = str(tmp_path / "t")
    base = [(1, 0, "p0", "a", False), (2, 0, "p0", "b", False),
            (3, 0, "p1", "c", False)]
    pschema = "k bigint, ver bigint, part string, s string, dead boolean"
    write_partitioned_manifest_table(
        spark, spark.createDataFrame(base, pschema), path, ["part"]
    )
    mor_upsert(
        spark, path,
        spark.createDataFrame([(2, 9, "p1", "B", False)], pschema),
        key_cols=["k"], version_cols=["ver"], tombstone_col="dead",
    )
    feed = _feed_counter(
        mor_changes(spark, path), cols=("k", "ver", "part", "s", "dead")
    )
    assert feed == Counter({
        (2, 0, "p0", "b", False, "update_preimage"): 1,
        (2, 9, "p1", "B", False, "update_postimage"): 1,
    })


def test_mor_changes_schema_evolution(spark, tmp_path):
    """A delta written after an additive evolution carries the new
    column; pre-images from the pre-evolution base read it as NULL."""
    path = str(tmp_path / "t")
    write_manifest_table(
        spark, spark.createDataFrame([(1, 0, "a", False)], SCHEMA), path
    )
    evolved = spark.createDataFrame(
        [(1, 9, "a2", False, "extra")], SCHEMA + ", note string"
    )
    mor_upsert(
        spark, path, evolved,
        key_cols=["k"], version_cols=["ver"], tombstone_col="dead",
        allow_schema_evolution=True,
    )
    feed = _feed_counter(
        mor_changes(spark, path), cols=COLS + ("note",)
    )
    assert feed == Counter({
        (1, 0, "a", False, None, "update_preimage"): 1,
        (1, 9, "a2", False, "extra", "update_postimage"): 1,
    })


def test_mor_changes_matches_interleaved_cow_and_compaction(spark, tmp_path):
    """The feed against a COW twin: mor_changes' post-images are
    exactly what the equivalent merge_upsert sequence stores for the
    touched keys; after compaction folds the backlog the feed is
    empty."""
    path = str(tmp_path / "mor")
    cow = str(tmp_path / "cow")
    base = [(k, 0, f"i{k}", False) for k in range(5)]
    for tgt in (path, cow):
        write_manifest_table(spark, spark.createDataFrame(base, SCHEMA), tgt)
    batches = [
        [(0, 5, "u0", False), (9, 1, "n9", False)],
        [(1, 5, None, True), (9, 2, "n9b", False)],
    ]
    for b in batches:
        df = spark.createDataFrame(b, SCHEMA)
        mor_upsert(spark, path, df, key_cols=["k"], version_cols=["ver"],
                   tombstone_col="dead")
        merge_upsert(spark, cow, df, key_cols=["k"], version_cols=["ver"],
                     tombstone_col="dead")
    base_live = [(k, 0, f"i{k}", False) for k in range(5)]
    feed = _feed_counter(mor_changes(spark, path))
    assert _apply_feed(base_live, feed) == Counter(
        _live_rows(read_table(spark, cow))
    )
    compact_small_files(spark, path, target_rows_per_file=1_000_000)
    assert mor_changes(spark, path).count() == 0


def test_mor_changes_plan_and_pruning(spark, tmp_path):
    """Scale shape: no sort-merge join anywhere in the feed plan (the
    contested slice broadcasts), and with a key-column bloom sidecar
    the base files opened are ONLY the delta-touched ones + deltas —
    the O(changes) read the module docstring claims."""
    from async_pipes_spark.sources.stats import write_file_bloom

    path = str(tmp_path / "t")
    df = spark.range(0, 4000).select(
        F.col("id").alias("k"),
        F.lit(0).cast("bigint").alias("ver"),
        F.concat(F.lit("s"), F.col("id")).alias("s"),
        F.lit(False).alias("dead"),
    ).repartition(8, "k")
    write_manifest_table(spark, df, path)
    write_file_bloom(spark, path, "k")
    mor_upsert(
        spark, path,
        spark.createDataFrame([(7, 9, "x", False)], SCHEMA),
        key_cols=["k"], version_cols=["ver"], tombstone_col="dead",
    )
    feed = mor_changes(spark, path)
    plan = feed._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    opened = feed.inputFiles()
    base_files = [f for f in opened if "/_data/v" in f and "_d" not in f.rsplit("/", 2)[-2]]
    # 8 base files hold disjoint key ranges hashed over k — the bloom
    # probe must keep only the file(s) containing k=7
    assert len(opened) < 8, opened


def test_mor_changes_not_a_manifest_raises(spark, tmp_path):
    p = str(tmp_path / "plain")
    spark.range(3).write.parquet(p)
    with pytest.raises(ValueError, match="not a manifest table"):
        mor_changes(spark, p)


def test_mor_changes_cursor_incremental_composition(spark, tmp_path):
    """Incremental consumption (since=<delta name>): each increment's
    apply reproduces the next snapshot, so sequential application
    composes to the final live rows; an increment never re-emits
    changes the cursor already covered; a fresh cursor at the backlog
    head yields an empty feed."""
    from async_pipes_spark.sources.sinks import mor_deltas

    path = str(tmp_path / "t")
    base = [(k, 0, f"i{k}", False) for k in range(6)]
    write_manifest_table(spark, spark.createDataFrame(base, SCHEMA), path)

    def upsert(rows):
        mor_upsert(
            spark, path, spark.createDataFrame(rows, SCHEMA),
            key_cols=["k"], version_cols=["ver"], tombstone_col="dead",
        )

    upsert([(0, 5, "u0", False), (9, 1, "n9", False)])
    upsert([(1, 5, None, True)])
    cursor = mor_deltas(spark, path)[-1]
    live_mid = _live_rows(read_table(spark, path))
    # caught-up consumer: empty increment, schema intact
    head = mor_changes(spark, path, since=cursor)
    assert head.count() == 0
    assert head.columns == ["k", "ver", "s", "dead", "_change_type"]

    upsert([(0, 9, "u0b", False), (2, 9, None, True)])
    upsert([(9, 0, "stale9", False)])  # loses to n9 (ver 1) → no-op

    inc = _feed_counter(mor_changes(spark, path, since=cursor))
    # the increment covers ONLY post-cursor changes, relative to the
    # snapshot at the cursor (pre-image of k=0 is u0, not i0)
    assert inc == Counter({
        (0, 5, "u0", False, "update_preimage"): 1,
        (0, 9, "u0b", False, "update_postimage"): 1,
        (2, 0, "i2", False, "delete"): 1,
    })
    assert _apply_feed(live_mid, inc) == Counter(
        _live_rows(read_table(spark, path))
    )
    # and the FULL feed equals increment-composition from the base
    full = _feed_counter(mor_changes(spark, path))
    base_live = [tuple(r) for r in base]
    assert _apply_feed(base_live, full) == Counter(
        _live_rows(read_table(spark, path))
    )


def test_mor_changes_cursor_folded_raises(spark, tmp_path):
    """A cursor that compaction folded must raise with restart
    guidance — never silently return a wrong (full) feed."""
    from async_pipes_spark.sources.sinks import mor_deltas

    path = str(tmp_path / "t")
    write_manifest_table(
        spark, spark.createDataFrame([(1, 0, "a", False)], SCHEMA), path
    )
    mor_upsert(
        spark, path, spark.createDataFrame([(1, 5, "b", False)], SCHEMA),
        key_cols=["k"], version_cols=["ver"], tombstone_col="dead",
    )
    cursor = mor_deltas(spark, path)[-1]
    compact_small_files(spark, path, target_rows_per_file=1000)
    with pytest.raises(ValueError, match="not in the outstanding backlog"):
        mor_changes(spark, path, since=cursor)


def test_mor_changes_until_bound(spark, tmp_path):
    """``until`` pins the feed's upper edge: deltas after it are
    invisible (the exactly-once window for a consumer racing source
    writers), ``until == since`` is the valid empty window, windows
    compose, and an unknown upper bound raises."""
    from async_pipes_spark.sources.sinks import mor_deltas

    path = str(tmp_path / "t")
    base = [(k, 0, f"i{k}", False) for k in range(4)]
    write_manifest_table(spark, spark.createDataFrame(base, SCHEMA), path)

    def upsert(rows):
        mor_upsert(
            spark, path, spark.createDataFrame(rows, SCHEMA),
            key_cols=["k"], version_cols=["ver"], tombstone_col="dead",
        )

    upsert([(0, 1, "u0", False)])
    upsert([(1, 1, None, True)])
    upsert([(9, 1, "n9", False)])
    d1, d2, d3 = mor_deltas(spark, path)

    # upper-bounded feed: the d3 insert is invisible
    w12 = _feed_counter(mor_changes(spark, path, until=d2))
    assert w12 == Counter({
        (0, 0, "i0", False, "update_preimage"): 1,
        (0, 1, "u0", False, "update_postimage"): 1,
        (1, 0, "i1", False, "delete"): 1,
    })
    # window (d2, d3]: only the insert
    w3 = _feed_counter(mor_changes(spark, path, since=d2, until=d3))
    assert w3 == Counter({(9, 1, "n9", False, "insert"): 1})
    # composition: bounded windows chain to the full feed's apply
    applied = _apply_feed(
        _apply_feed([tuple(r) for r in base], w12), w3
    )
    assert applied == Counter(_live_rows(read_table(spark, path)))
    # the valid empty window
    empty = mor_changes(spark, path, since=d2, until=d2)
    assert empty.count() == 0
    assert empty.columns == ["k", "ver", "s", "dead", "_change_type"]
    # an upper bound before the cursor (or unknown) raises
    with pytest.raises(ValueError, match="not in the feed window"):
        mor_changes(spark, path, since=d2, until=d1)
    with pytest.raises(ValueError, match="not in the feed window"):
        mor_changes(spark, path, until="x_nonexistent")


def test_mor_changes_cursored_contested_pruning(spark, tmp_path):
    """Cursored feeds keep base file pruning: with key blooms on the
    base, an insert-only post-cursor window plans ZERO base files —
    the consumed prefix's delta dirs are read, the base is not."""
    from async_pipes_spark.sources.sinks import mor_deltas
    from async_pipes_spark.sources.stats import write_file_bloom

    path = str(tmp_path / "t")
    base = [(k, 0, f"i{k}", False) for k in range(64)]
    write_manifest_table(
        spark,
        spark.createDataFrame(base, SCHEMA).repartition(8),
        path,
    )
    write_file_bloom(spark, path, ["k"])

    def upsert(rows):
        mor_upsert(
            spark, path, spark.createDataFrame(rows, SCHEMA),
            key_cols=["k"], version_cols=["ver"], tombstone_col="dead",
        )

    upsert([(3, 1, "u3", False)])        # consumed prefix (contested)
    cursor = mor_deltas(spark, path)[-1]
    upsert([(900, 1, "n900", False)])    # post-cursor, pure insert
    feed = mor_changes(spark, path, since=cursor)
    assert _feed_counter(feed) == Counter(
        {(900, 1, "n900", False, "insert"): 1}
    )
    opened = feed.inputFiles()
    base_files = [f for f in opened if "/_data/v_" in f]
    assert not base_files, base_files
    # contested post-cursor window: only the probed base files open
    upsert([(5, 2, "u5", False)])
    cursor2 = mor_deltas(spark, path)[1]
    feed2 = mor_changes(spark, path, since=cursor2)
    assert _feed_counter(feed2) == Counter({
        (5, 0, "i5", False, "update_preimage"): 1,
        (5, 2, "u5", False, "update_postimage"): 1,
    })
    base_files2 = {f for f in feed2.inputFiles() if "/_data/v_" in f}
    total_base = {
        f for f in read_table(spark, path).inputFiles()
        if "/_data/v_" in f
    }
    assert base_files2 and len(base_files2) < len(total_base), (
        len(base_files2), len(total_base)
    )
