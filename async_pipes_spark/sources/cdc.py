"""Row-level change-data-feed for merge-on-read tables.

The lake layer records every ``mor_upsert`` as an immutable delta dir
(`sources/sinks.py`) — the deltas ARE the table's recent changes, the
artifact Delta Lake's Change Data Feed and Iceberg's changelog scans
exist to expose. :func:`mor_changes` turns the outstanding backlog
into the standard CDC row shape — one row per changed LIVE row with a
``_change_type`` in ``insert`` / ``update_preimage`` /
``update_postimage`` / ``delete`` — WITHOUT a two-snapshot diff:

- the deltas are read in full (they are O(changes) by construction —
  the whole point of merge-on-read writes);
- the base is touched only on the CONTESTED slice: one broadcast
  semi-join pulls the pre-image rows, file-pruned through the
  key-column sidecars when the table carries them (the same
  equality-delete→data-file mapping the resolver's contested scan
  uses, `sources/stats.py::_mor_contested_plan`);
- post-images come from the shared last-writer-wins resolver
  (`sinks.py::_mor_resolve`) run with an EMPTY untouched branch — the
  battle-tested merge semantics, none of the untouched base;
- one keyed window pass over the pre ∪ post rows classifies every
  changed key: per key it counts and collects both sides' rows, and
  each row takes its ``_change_type`` in place (a key whose two row
  multisets are equal emits nothing). NULL-key rows are never
  contested, so each gets a window partition of its own and comes out
  an ``insert``.

At 100 TB this is the difference between "diff two snapshots" (two
full scans + a key-partitioned shuffle of everything) and "read the
changes" (delta bytes + a handful of pruned base files, shuffling
only the contested slice).

The feed is defined on LIVE rows (soft tombstones are resolution
bookkeeping, not data): applying it to the base's live rows
reproduces the resolved read's live rows EXACTLY, as multisets —
pinned by `tests/test_cdc.py`'s apply-parity properties. Duplicate-key
bases (no uniqueness constraint exists) are handled by emitting one
``update_preimage`` / ``delete`` row per dying base row, so the
multiset algebra stays exact.

Reference parity: the reference engine (async-pipes, Rust) has no
lake layer at all — this module extends the north-star scope
(training-data pipelines over mutable corpora) the same way the rest
of `sources/` does.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window, functions as F

from async_pipes_spark.sources.sinks import (
    _mor_delta_keys,
    _read_immutable_dir,
    _read_immutable_dirs,
    _mor_resolve,
    _pmanifest_mapping,
    _pmanifest_read,
    _read_mor_spec,
    _read_pmapping,
    _resolve_table_path,
    _state_base,
    manifest_version,
    mor_deltas,
    read_table,
)

#: the four CDC row kinds, in the order a consumer applies them
CHANGE_TYPES = ("insert", "update_preimage", "update_postimage", "delete")

_CHANGE_COL = "_change_type"


def _base_frame(spark, path: str) -> DataFrame:
    """The BASE snapshot (no deltas resolved) for either manifest
    flavor: the live generation's partition mapping for a partitioned
    manifest, the pointer's base version dir for a flat one."""
    info = _pmanifest_read(spark, path)
    if info is not None:
        gen = info[0][0]
        mapping = _pmanifest_mapping(spark, path, _state_base(gen))
        return _read_pmapping(spark, path, mapping)
    if manifest_version(spark, path) is None:
        raise ValueError(
            f"not a manifest table: {path} — mor_changes reads the "
            "merge-on-read backlog a mor_upsert sequence recorded"
        )
    return _read_immutable_dir(spark, _resolve_table_path(spark, path))


def mor_changes(
    spark, path: str, since: str | None = None, until: str | None = None
) -> DataFrame:
    """Change-data-feed of the OUTSTANDING merge-on-read backlog of
    ``path``: what resolving the backlog changes about the base
    snapshot's LIVE rows, one row per change with ``_change_type`` in
    :data:`CHANGE_TYPES`. Net semantics over the whole backlog (a key
    inserted then tombstoned within it emits nothing; a delta that
    loses last-writer-wins to the base row emits nothing) — the same
    net a consumer observes between "before the backlog" and "now".

    ``since`` makes the feed INCREMENTALLY consumable — the Delta CDF
    "changes since version" read: pass a delta-dir name previously
    observed (the last element of :func:`~async_pipes_spark.sources.
    sinks.mor_deltas` when the consumer last caught up) and the feed
    covers only the deltas AFTER it, relative to the snapshot that
    INCLUDES it — so sequentially applying each increment reproduces
    every intermediate live snapshot and composes to the full feed
    (pinned in tests). A cursor no longer in the backlog (compaction
    or optimize folded it) raises — the consumer restarts from a
    fresh full read, the same contract as vacuuming under a CDF
    reader. Cursored feeds keep base FILE PRUNING too: the key
    sidecars describe the IMMUTABLE base version, so the contested
    scan still opens only the base files that may hold a NEW delta's
    key — resolved with the consumed prefix (whose delta dirs are
    read in full; they are O(past changes)) — and an incremental
    consumer's steady state never rescans the base.

    ``until`` bounds the feed's UPPER edge to a delta-dir name
    currently in the backlog (inclusive): deltas after it are treated
    as not yet written. This is what makes a consumer exactly-once
    under CONCURRENT source writers — snapshot ``mor_deltas()`` once,
    feed ``(since, until=snapshot[-1]]``, record ``until`` as the new
    cursor; a delta landing mid-read can neither leak into this feed
    nor be skipped by the next one. ``until == since`` is the valid
    empty window.

    Output columns: every table column (tombstone column normalized
    to ``false`` — deletions are expressed by ``_change_type``, and
    rows in the feed are live images) plus ``_change_type``. Keys with
    NULL components follow the resolver's join semantics: base
    NULL-key rows are never contested; surviving NULL-key delta rows
    are inserts. With no outstanding backlog the feed is empty with
    the same schema.

    Multiset-exact apply contract (pinned in tests): ::

        base_live  −  {update_preimage, delete rows}
                   ∪  {insert, update_postimage rows}
          ==  resolved_live                       (as multisets)

    which holds for duplicate-key bases too — every dying base row
    gets its own pre-image/delete row."""
    if (
        _pmanifest_read(spark, path) is None
        and manifest_version(spark, path) is None
    ):
        raise ValueError(
            f"not a manifest table: {path} — mor_changes reads the "
            "merge-on-read backlog a mor_upsert sequence recorded"
        )
    deltas = mor_deltas(spark, path)
    if since is not None:
        if since not in deltas:
            raise ValueError(
                f"cursor {since!r} is not in the outstanding backlog of "
                f"{path} (have {deltas}) — compaction/optimize folds "
                "deltas into the base; restart the consumer from a fresh "
                "full read of the table"
            )
        cut = deltas.index(since) + 1
        consumed, deltas = deltas[:cut], deltas[cut:]
    else:
        consumed = []
    if until is not None and until != since:
        if until not in deltas:
            raise ValueError(
                f"upper bound {until!r} is not in the feed window of "
                f"{path} (window {deltas}, cursor {since!r}) — pass a "
                "delta name at or after the cursor from the same "
                "mor_deltas() snapshot"
            )
        deltas = deltas[: deltas.index(until) + 1]
    elif until is not None:  # until == since: the valid empty window
        deltas = []
    if not deltas:
        snap = read_table(spark, path)
        return snap.where(F.lit(False)).withColumn(
            _CHANGE_COL, F.lit(None).cast("string")
        )
    keys, vers, tomb, _ = _read_mor_spec(spark, path, deltas[0])
    base0 = _base_frame(spark, path)
    if consumed:
        # effective base for an incremental read: the snapshot at the
        # cursor — base with the consumed prefix resolved (lazy; only
        # its contested slice is ever pulled through the joins below)
        base = _mor_resolve(spark, path, base0, consumed)
    else:
        base = base0

    dunion = _read_immutable_dirs(
        spark, [f"{path}/_data/{d}" for d in deltas]
    )
    out_cols = list(base.columns) + [
        c for c in dunion.columns if c not in set(base.columns)
    ]
    out_types = {
        **{f.name: f.dataType for f in dunion.schema.fields},
        **{f.name: f.dataType for f in base.schema.fields},
    }

    def align(df: DataFrame) -> DataFrame:
        # one select instead of a per-column withColumn chain (a plan
        # node + py4j round-trips per column per branch); a branch
        # missing the tombstone flag normalizes to live=False exactly
        # like the old add-NULL-then-coalesce pair
        have = set(df.columns)
        cols = []
        for c in out_cols:
            if tomb and c == tomb:
                cols.append(
                    (F.coalesce(F.col(c), F.lit(False)) if c in have
                     else F.lit(False)).alias(c)
                )
            elif c in have:
                cols.append(F.col(c))
            else:
                cols.append(F.lit(None).cast(out_types[c]).alias(c))
        return df.select(*cols)

    def live(df: DataFrame) -> DataFrame:
        return df.where(~F.col(tomb)) if tomb else df

    has_null_key = reduce(Column.__or__, [F.col(k).isNull() for k in keys])
    dkeys = _mor_delta_keys(spark, path, deltas, dunion, keys)

    # contested-slice base scan, file-pruned when key sidecars allow
    # (flat manifests; the partitioned flavor's mapping read is
    # already partition-bounded) — shared by the PRE side here and the
    # resolver's contested branch below
    contested_base = None
    if _pmanifest_read(spark, path) is None:
        from async_pipes_spark.sources.stats import _mor_contested_plan

        ckept = _mor_contested_plan(spark, path, deltas)
        if ckept is not None:
            # the sidecars describe the IMMUTABLE base version, so the
            # prune stays valid under a consumed prefix: every base row
            # of a new-delta key lives in a kept file, and the consumed
            # deltas (read in full) supply the rest of that key's
            # history — resolving the pruned slice with them yields
            # exactly the cursor snapshot's rows for contested keys
            pruned = (
                _read_immutable_dir(
                    spark, *ckept,
                    schema_dir=_resolve_table_path(spark, path),
                )
                if ckept
                else base0.where(F.lit(False))
            )
            contested_base = (
                _mor_resolve(spark, path, pruned, consumed)
                if consumed
                else pruned
            )
    cb = contested_base if contested_base is not None else base

    # PRE: every live base row of a contested key (one broadcast
    # semi-join — the dying rows, each of which gets its own feed row)
    pre = live(align(cb.join(dkeys, list(keys), "left_semi")))

    # POST: the resolver's contested winners, with the untouched
    # branch EMPTIED — merge semantics identical to read_table's, none
    # of the untouched base read or emitted
    resolved = _mor_resolve(
        spark,
        path,
        base,
        deltas,
        untouched_base=base.where(F.lit(False)),
        contested_base=contested_base,
    )
    resolved = align(resolved)

    # classify in ONE keyed window pass over pre ∪ post: per key, each
    # side's row count and sorted row multiset; every row then takes
    # its label in place, with no join back. Suppression is exact
    # MULTISET equality of the key's live rows — a backlog that
    # rewrites a key to byte-identical contents, duplicates included,
    # is a no-op — matching the snapshot-diff definition of the feed
    # (the sorted lists are compared only when the counts agree).
    # collect_list skips the other side's NULL entries, so each list
    # holds only its own side's rows. A NULL-key row is never contested
    # (the PRE semi-join matches non-null keys only): each gets its own
    # window partition, so it comes out an insert and a large NULL-key
    # group never collects into one frame.
    cmp_cols = [c for c in out_cols if c != tomb]
    can_compare = not any(
        "map<" in t for c, t in resolved.dtypes if c in cmp_cols
    )
    u = (
        pre.withColumn("_side", F.lit(0))
        .unionByName(live(resolved).withColumn("_side", F.lit(1)))
        .withColumn(
            "_null_key_row",
            F.when(has_null_key, F.monotonically_increasing_id()),
        )
    )
    w = Window.partitionBy(*keys, "_null_key_row")

    def per_key(side: int, name: str) -> list[Column]:
        mine = F.col("_side") == side
        out = [F.count(F.when(mine, F.lit(1))).over(w).alias(f"_n_{name}")]
        if can_compare:
            rows = F.collect_list(F.when(mine, F.struct(*cmp_cols)))
            out.append(F.sort_array(rows.over(w)).alias(f"_set_{name}"))
        return out

    counted = u.select(
        *out_cols, "_side", *per_key(0, "pre"), *per_key(1, "post")
    )
    n_pre, n_post = F.col("_n_pre"), F.col("_n_post")
    noop = (
        (n_pre == n_post) & F.col("_set_pre").eqNullSafe(F.col("_set_post"))
        if can_compare
        else F.lit(False)
    )
    kind = (
        F.when(n_pre == 0, F.lit("insert"))
        .when(n_post == 0, F.lit("delete"))
        .when(F.col("_side") == 0, F.lit("update_preimage"))
        .otherwise(F.lit("update_postimage"))
    )
    return counted.where(~noop).select(*out_cols, kind.alias(_CHANGE_COL))
