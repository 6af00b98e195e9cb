"""Incrementally maintained AGGREGATED JOIN views over two
merge-on-read tables — the Materialize / DLT delta-join model on the
engine's own lake, completing `sources/ivm.py`'s single-table views
(the r9 verdict's "missing #2").

A view ``SELECT group_cols, aggs FROM A JOIN B USING (join_keys)
[WHERE filter] GROUP BY group_cols`` refreshes from the two bounded
change feeds via the standard multiset identity::

    A_new ⋈ B_new  −  A_old ⋈ B_old
        =  dA ⋈ B_new  +  A_old ⋈ dB

where ``dA``/``dB`` are the SIGNED change multisets (post-images +1,
pre-images −1) and the join sign of a delta-joined row is the feed
row's sign. Both terms are O(changes) join probes, not table scans:

- ``dA ⋈ B_new`` touches only B rows whose join key appears in dA —
  one semi-join against the (size-gated broadcast) dA key set, with an
  ``isin`` pushdown when the key set is small enough to inline, so the
  parquet scan prunes row groups by footer stats on the join key;
- ``A_old ⋈ dB`` symmetrically — ``A_old`` is the PINNED snapshot at
  A's cursor (base ∪ consumed prefix, resolved lazily; only the
  contested slice of the resolve and the key-matched slice of the scan
  are ever materialized).

Aggregates are the full single-table set: the ALGEBRAIC ones (``sum``
/ ``count`` / ``avg`` with the same hidden non-null counters — SQL
NULL semantics exact through subtraction, avg's quotient identical
across the incremental and full lanes) fold the signed joined multiset
directly, and ``min``/``max`` ride the same needy-group lane as
single-table views: the feed's added/removed extremes maintain the
stored extreme wherever the multiset algebra proves it (new/revived
group, absorbed by an added value, removals that never touch the
holder), and ONLY a group whose extreme-holding joined value was
removed and not re-added recomputes — against the JOINED slice of the
two pinned snapshots at the refresh cut, each side pruned by its own
group columns (null-safe semi-join) and, for a side carrying no group
column, by the other slice's join keys (isin pushdown under the cap,
gated-broadcast semi-join past it) — never a full re-join.
``count_distinct`` rides the same two-level companion reduction as
single-table views (:func:`~async_pipes_spark.sources.ivm._dv_fold`),
fed by the signed joined multiset — the reduction is join-agnostic.

Exactly-once and crash safety mirror the single-table contract, per
source: the state file pins each side's cursor + base-version token
and the view's commit seq; a base move (compaction / COW merge / purge
/ z-order / restore) on EITHER side, a crashed refresh, an out-of-band
view write, or a compaction racing the refresh mid-flight all
downgrade to a full recompute from pinned snapshots — never a
double-apply. The two sides pin independently: the refreshed view is
the join of (A at until_a) with (B at until_b), a consistent cut that
sequential refreshes advance monotonically.

The stored view table is byte-compatible with single-table views
(:func:`~async_pipes_spark.sources.ivm.read_agg_view` reads both); a
``kind`` marker in the state file keeps each refresher on its own
views.
"""

from __future__ import annotations

import json
from functools import reduce
from typing import Mapping, Sequence

from pyspark.sql import (
    Column,
    DataFrame,
    Observation,
    SparkSession,
    functions as F,
)

from async_pipes_spark.session import pin as _pin
from async_pipes_spark.sources.cdc import mor_changes
from async_pipes_spark.sources.ivm import (
    CompanionCorruption,
    DV_VAL,
    IVM_DEL,
    IVM_KEY,
    IVM_N,
    IVM_SEQ,
    _as,
    _dv_fold,
    _dv_path,
    _dv_rollup,
    _full_agg_exprs,
    _group_key,
    _live,
    _nn,
    _pinned_state,
    _read_state,
    _RECOMPUTED,
    _stored,
    _validate_aggs,
    _validate_filter_expr,
    _write_state,
    read_agg_view,
)
from async_pipes_spark.sources.sinks import (
    ConcurrentCommitError,
    _MOR_BROADCAST_MAX_BYTES,
    _mor_backlog_bytes,
    _mor_resolve,
    _pmanifest_mapping,
    _raw_pointer_seq,
    _read_immutable_dir,
    _read_mor_spec,
    _read_pmapping,
    _state_base,
    _state_deltas,
    mor_upsert,
    write_manifest_table,
)

#: past this many distinct join keys in a feed the ``isin`` pushdown is
#: skipped (the semi-join alone stays correct); matches the contested
#: file-planning cap in sources/stats.py
_ISIN_KEY_CAP = 4096


def _in_expr(col_name: str, values: list) -> Column:
    """``col IN (values)`` as ONE parsed SQL expression.

    ``Column.isin(values)`` creates a py4j literal per element — one
    driver round-trip each, and inline windows legitimately run to
    ``_ISIN_KEY_CAP`` (4096) keys, so the old path cost up to ~4096
    round-trips per slice (guide §1.2: cut the per-call work).
    ``F.expr`` ships one string; the parser produces the same
    ``In(attr, [literals])`` predicate, folded and pushed to the
    parquet scan identically (pinned by test_plans). Only int and str
    keys take the fast path — every surrogate/string join key in the
    engine — anything else falls back to ``isin`` unchanged. The column
    is always backtick-quoted: a bare SQL keyword (``null``, ``not``,
    ``true``) would otherwise parse as a literal or an operator."""
    if not values:
        return F.lit(False)  # isin([]): false for every non-null row
    rendered = []
    for v in values:
        if isinstance(v, bool):
            rendered = None
            break
        if isinstance(v, int):
            rendered.append(str(v))
        elif isinstance(v, str):
            rendered.append(
                "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
            )
        else:
            rendered = None
            break
    if rendered is None:
        return F.col(col_name).isin(values)
    quoted = "`" + col_name.replace("`", "``") + "`"
    return F.expr(f"{quoted} IN ({', '.join(rendered)})")

def _side_state(spark, path: str) -> tuple[str, str, list[str], str]:
    """(flavor, base_name, deltas, token) of a source's pinned state."""
    pinned = _pinned_state(spark, path)
    flavor, _, body = pinned.partition(":")
    base = _state_base(body)
    return flavor, base, _state_deltas(body), f"{flavor}:{base}"


def _base_of(spark, path: str, flavor: str, base_name: str) -> DataFrame:
    if flavor == "p":
        mapping = _pmanifest_mapping(spark, path, base_name)
        return _read_pmapping(spark, path, mapping)
    return _read_immutable_dir(spark, f"{path}/_data/{base_name}")


def _snapshot_bytes(
    spark, path: str, flavor: str, base_name: str,
    deltas: list[str], upto: str | None,
) -> int:
    """Backing on-disk bytes of the pinned snapshot base ∪
    deltas[..upto] — the recompute lane's OWN size signal (r11 ADVICE
    item 2: the feed-window byte gate says nothing about how big the
    pruned snapshot slice is). Flat manifests sum the base dir + the
    consumed delta dirs (one getContentSummary each); the partitioned
    flavor reports huge (its generations don't live as one _data dir),
    so callers never inline-peek or broadcast blind."""
    if flavor != "f":
        return 1 << 62
    dirs = [base_name]
    if upto is not None:
        dirs += deltas[: deltas.index(upto) + 1]
    return _mor_backlog_bytes(spark, path, dirs)


def _snap_upto(
    spark, path: str, flavor: str, base_name: str,
    deltas: list[str], upto: str | None,
) -> DataFrame:
    """Resolved snapshot base ∪ deltas[..upto] of the PINNED state
    (never the live pointer — a racing compaction may have advanced
    it). ``upto=None`` denotes the bare base."""
    base = _base_of(spark, path, flavor, base_name)
    if upto is None:
        return base
    cut = deltas[: deltas.index(upto) + 1]
    return _mor_resolve(spark, path, base, cut) if cut else base


def _disjoint_or_raise(a_cols, b_cols, join_keys) -> None:
    clash = (set(a_cols) & set(b_cols)) - set(join_keys)
    if clash:
        raise ValueError(
            f"non-key columns present on both sides: {sorted(clash)} — "
            "rename one side before creating the join view (the joined "
            "row's columns must be unambiguous)"
        )


def create_join_view(
    spark: SparkSession,
    left_path: str,
    right_path: str,
    view_path: str,
    join_keys: Sequence[str],
    group_cols: Sequence[str],
    aggs: Mapping[str, tuple[str, str]],
    left_tombstone_col: str | None = None,
    right_tombstone_col: str | None = None,
    filter_expr: str | None = None,
) -> dict:
    """Materialize the aggregated equi-join (module doc) as a manifest
    table at ``view_path`` and arm it for incremental refresh.
    ``join_keys`` are SAME-NAMED columns on both sides (USING-join);
    every other column name must be unique across the two sources.
    ``aggs``/``group_cols``/``filter_expr`` address the JOINED row.

    Returns the recorded state dict."""
    join_keys = list(join_keys)
    group_cols = list(group_cols)
    aggs = {k: (fn, col) for k, (fn, col) in aggs.items()}
    if not join_keys:
        raise ValueError("join_keys is required")
    _validate_aggs(group_cols, aggs)

    fl, bl, dl, tok_l = _side_state(spark, left_path)
    fr, br, dr, tok_r = _side_state(spark, right_path)
    a = _live(
        _snap_upto(spark, left_path, fl, bl, dl, dl[-1] if dl else None),
        left_tombstone_col,
    )
    b = _live(
        _snap_upto(spark, right_path, fr, br, dr, dr[-1] if dr else None),
        right_tombstone_col,
    )
    missing = [k for k in join_keys if k not in a.columns or k not in b.columns]
    if missing:
        raise ValueError(f"join keys not on both sides: {missing}")
    _disjoint_or_raise(a.columns, b.columns, join_keys)
    joined = a.join(b, join_keys)
    if filter_expr:
        # friendly create-time validation, same contract (and probe
        # mechanics) as create_agg_view
        _validate_filter_expr(spark, joined, filter_expr, "joined row's")
        joined = joined.where(F.expr(filter_expr))
    bad = [c for c in group_cols if c not in joined.columns] + [
        c for _n, (_f, c) in aggs.items()
        if c != "*" and c not in joined.columns
    ]
    if bad:
        raise ValueError(f"columns not in the joined row: {sorted(set(bad))}")
    full = joined.groupBy(*group_cols).agg(*_full_agg_exprs(aggs))
    types = dict(full.dtypes)
    types = {
        name: types[name]
        for name in [n for n in aggs]
        + [_as(n) for n, (f, _c) in aggs.items() if f == "avg"]
    }
    out = _stored(full, group_cols, aggs, types, seq=0)
    write_manifest_table(spark, out, view_path)
    dv_seqs: dict[str, int] = {}
    for name, (fn, col) in aggs.items():
        if fn == "count_distinct":
            # companion of the JOINED multiset — the two-level
            # reduction is join-agnostic (ivm._dv_path doc)
            write_manifest_table(
                spark, _dv_rollup(joined, group_cols, col, 0),
                _dv_path(view_path, name),
            )
            dv_seqs[name] = _raw_pointer_seq(spark, _dv_path(view_path, name))
    state = {
        "kind": "join",
        "dv_seqs": dv_seqs,
        "left": left_path,
        "right": right_path,
        "join_keys": join_keys,
        "group_cols": group_cols,
        "aggs": {k: list(v) for k, v in aggs.items()},
        "types": types,
        "left_tombstone_col": left_tombstone_col,
        "right_tombstone_col": right_tombstone_col,
        "filter": filter_expr,
        "left_cursor": dl[-1] if dl else None,
        "right_cursor": dr[-1] if dr else None,
        "left_base": tok_l,
        "right_base": tok_r,
        "seq": 0,
        "view_seq": _raw_pointer_seq(spark, view_path),
    }
    _write_state(spark, view_path, state)
    return state


#: a join view's stored shape matches the single-table one exactly
read_join_view = read_agg_view


def _signed_feed(
    spark, path: str, cursor: str | None, new: list[str],
    tombstone_col: str | None,
) -> DataFrame | None:
    """The side's signed change multiset over (cursor, new[-1]], with
    ``_ivm_sgn`` ±1, tombstone bookkeeping dropped; ``None`` when the
    window is empty (the caller skips the side's term entirely)."""
    if not new:
        return None
    feed = mor_changes(spark, path, since=cursor, until=new[-1])
    adds = F.col("_change_type").isin("insert", "update_postimage")
    out = feed.withColumn(
        "_ivm_sgn", F.when(adds, F.lit(1)).otherwise(F.lit(-1))
    ).drop("_change_type")
    if tombstone_col and tombstone_col in out.columns:
        out = out.drop(tombstone_col)  # feed rows are live images
    return out


def _keys_probe(
    spark, signed: DataFrame, join_keys: list[str], small: bool,
    feed_pinned: bool = False,
) -> tuple[DataFrame, list | None]:
    """(distinct-key frame for the semi-join, optional inlined key rows
    for an ``isin`` pushdown). The inline peek runs ONLY when the feed
    window is byte-gated small (a big window's key set almost certainly
    exceeds the cap — collecting it just to discard it is a wasted
    driver round-trip on the hot path) and is CAPPED at
    ``_ISIN_KEY_CAP`` rows — past the cap only the (gated-broadcast)
    semi-join prunes, which stays correct at any size.

    Job accounting (r12, guide §1.2/§5): when the caller already pinned
    the feed (``feed_pinned`` — every small-window refresh side does),
    the key frame is one distinct over checkpointed blocks, so its own
    pin was a pure extra Spark job and is skipped — the peek and the
    (possible) semi-join build each re-derive it cheaply. An UNPINNED
    feed keeps the old accounting: pin only on the peek lane (small
    window, single key), where the frame is otherwise executed twice;
    on every other lane the semi-join is the frame's only execution, so
    the old unconditional ``_pin`` was a wasted job there too."""
    kdf = signed.select(*join_keys).where(
        reduce(Column.__and__, [F.col(k).isNotNull() for k in join_keys])
    ).distinct()
    if small and len(join_keys) == 1:
        if not feed_pinned:
            kdf = _pin(kdf)  # executed twice: peek now, maybe semi later
        head = kdf.limit(_ISIN_KEY_CAP + 1).collect()
        if len(head) <= _ISIN_KEY_CAP:
            return kdf, [r[0] for r in head]  # kdf is never re-executed
        return F.broadcast(kdf), None
    return (F.broadcast(kdf) if small else kdf), None


def _half_term(
    snapshot: DataFrame,
    signed: DataFrame,
    join_keys: list[str],
    keys: DataFrame,
    inline: list | None,
) -> DataFrame:
    """One delta-join term: ``signed ⋈ key-matched snapshot slice``,
    joined-row sign = the feed row's sign. NULL join keys match
    nothing on either side — exactly SQL's inner-join semantics, so
    dropping them from the probe loses no rows. When the key set
    inlined (single key, under the cap) the ``isin`` IS the exact
    slice — it reaches the parquet scan as a pushed filter and the
    semi-join is skipped; past the cap the (gated-broadcast) semi-join
    alone slices, correct at any key count."""
    if inline is not None:
        sliced = snapshot.where(_in_expr(join_keys[0], inline))
    else:
        sliced = snapshot.join(keys, join_keys, "left_semi")
    return signed.join(sliced, join_keys)


def refresh_join_view(
    spark: SparkSession,
    view_path: str,
    view_compact_deltas: int | None = 16,
) -> dict:
    """Advance the join view to both sources' current states — the
    delta-join identity folded into one O(changed groups) view commit
    (module doc). Falls back to a full recompute whenever incremental
    apply cannot be proven safe on EITHER side (base moved, cursor
    folded — at pin time or mid-flight — view seq drift).

    Returns ``{"mode": "noop" | "incremental" | "full", ...}``."""
    st = _read_state(spark, view_path)
    if st.get("kind", "agg") != "join":
        raise ValueError(
            f"not a join view: {view_path} — use refresh_agg_view()"
        )
    group_cols: list[str] = st["group_cols"]
    aggs = {k: (v[0], v[1]) for k, v in st["aggs"].items()}
    types: dict[str, str] = st["types"]
    join_keys: list[str] = st["join_keys"]
    filt = st.get("filter")

    if _raw_pointer_seq(spark, view_path) != st["view_seq"]:
        return _full_join_refresh(spark, view_path, st,
                                  reason="view-state-drift")
    for name, dv_seq in st.get("dv_seqs", {}).items():
        if _raw_pointer_seq(spark, _dv_path(view_path, name)) != dv_seq:
            return _full_join_refresh(spark, view_path, st,
                                      reason="companion-state-drift")
    try:
        fl, bl, dl, tok_l = _side_state(spark, st["left"])
        fr, br, dr, tok_r = _side_state(spark, st["right"])
    except ValueError:
        return _full_join_refresh(spark, view_path, st,
                                  reason="source-unreadable")
    if tok_l != st["left_base"] or tok_r != st["right_base"]:
        return _full_join_refresh(spark, view_path, st,
                                  reason="source-base-moved")
    cur_l, cur_r = st["left_cursor"], st["right_cursor"]
    if (cur_l is not None and cur_l not in dl) or (
        cur_r is not None and cur_r not in dr
    ):
        return _full_join_refresh(spark, view_path, st,
                                  reason="cursor-folded")
    new_l = dl if cur_l is None else dl[dl.index(cur_l) + 1:]
    new_r = dr if cur_r is None else dr[dr.index(cur_r) + 1:]
    if not new_l and not new_r:
        return {"mode": "noop", "deltas_consumed": 0, "seq": st["seq"]}
    until_l = new_l[-1] if new_l else cur_l
    until_r = new_r[-1] if new_r else cur_r

    # tombstone-spec drift guards, per side — the drift check sits
    # OUTSIDE the race-recovery try so a config error surfaces as the
    # same ValueError the single-table refresher raises (ivm.py:431),
    # while a vanished delta dir (mid-flight compaction of either
    # backlog) still routes to the recovery lane
    for path, new, tomb in (
        (st["left"], new_l, st["left_tombstone_col"]),
        (st["right"], new_r, st["right_tombstone_col"]),
    ):
        if new:
            try:
                _k, _v, bt, _e = _read_mor_spec(spark, path, new[0])
            except ValueError:
                return _full_join_refresh(spark, view_path, st,
                                          reason="cursor-raced")
            if bt != tomb:
                raise ValueError(
                    f"source tombstone spec drifted on {path}: view "
                    f"records {tomb!r}, the backlog resolves with {bt!r} "
                    "— recreate the view with the matching tombstone "
                    "column"
                )
    try:
        sgn_l = _signed_feed(spark, st["left"], cur_l, new_l,
                             st["left_tombstone_col"])
        sgn_r = _signed_feed(spark, st["right"], cur_r, new_r,
                             st["right_tombstone_col"])
    except ValueError:
        return _full_join_refresh(spark, view_path, st,
                                  reason="cursor-raced")

    window_bytes = _mor_backlog_bytes(
        spark, st["left"], new_l
    ) + _mor_backlog_bytes(spark, st["right"], new_r)
    small = window_bytes <= _MOR_BROADCAST_MAX_BYTES

    # a small (byte-gated) window's signed feed is materialized ONCE
    # per side: the key probe and the delta-join term both consume it,
    # and without the pin each consumer re-executed the whole feed
    # lineage (delta scan + contested base slice + resolve windows) —
    # guide §1.2 step 1, one pass instead of two. Past the gate the
    # feed stays lazy (O(window) rows must not be checkpointed blind).
    if small:
        sgn_l = _pin(sgn_l) if sgn_l is not None else None
        sgn_r = _pin(sgn_r) if sgn_r is not None else None

    def _hint(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small else df

    # the two delta-join terms (module doc):  dA ⋈ B_new  uses B at
    # until_r;  A_old ⋈ dB  uses A at cursor_l — the cut that makes
    # the two terms sum EXACTLY to the join's change
    terms: list[DataFrame] = []
    if sgn_l is not None:
        b_new = _live(
            _snap_upto(spark, st["right"], fr, br, dr, until_r),
            st["right_tombstone_col"],
        )
        keys_l, inline_l = _keys_probe(spark, sgn_l, join_keys, small,
                                       feed_pinned=small)
        terms.append(_half_term(b_new, sgn_l, join_keys, keys_l, inline_l))
    if sgn_r is not None:
        a_old = _live(
            _snap_upto(spark, st["left"], fl, bl, dl, cur_l),
            st["left_tombstone_col"],
        )
        keys_r, inline_r = _keys_probe(spark, sgn_r, join_keys, small,
                                       feed_pinned=small)
        terms.append(_half_term(a_old, sgn_r, join_keys, keys_r, inline_r))
    delta = terms[0] if len(terms) == 1 else terms[0].unionByName(terms[1])
    if filt:
        delta = delta.where(F.expr(filt))
    if any(fn == "count_distinct" for fn, _c in aggs.values()):
        # a count_distinct view aggregates the delta-join TWICE (the
        # plain per-group fold + each companion's per-(group, value)
        # fold) — pin it once so the terms never re-execute
        delta = _pin(delta)

    # fold the signed joined multiset into per-group aggregate deltas —
    # the algebraic twin of refresh_agg_view's fold, kept standalone so
    # the (driver-audited) single-table path stays untouched
    sgn = F.col("_ivm_sgn")
    adds = sgn == 1
    dexprs: list[Column] = [F.sum(sgn).alias("_ivm_dn")]
    has_recompute = False
    has_distinct = False
    for name, (fn, col) in aggs.items():
        if fn in ("sum", "avg"):
            dexprs.append(F.sum(sgn * F.col(col)).alias(f"_ivm_d_{name}"))
            dexprs.append(
                F.sum(
                    F.when(F.col(col).isNotNull(), sgn).otherwise(F.lit(0))
                ).alias(f"_ivm_dnn_{name}")
            )
        elif fn == "count":
            dexprs.append(
                F.sum(
                    sgn if col == "*" else
                    F.when(F.col(col).isNotNull(), sgn).otherwise(F.lit(0))
                ).alias(f"_ivm_d_{name}")
            )
        elif fn == "count_distinct":
            # delta comes from the companion fold below (ivm._dv_fold)
            has_distinct = True
        else:
            # min/max: the joined feed's added/removed extremes decide
            # per group whether the stored extreme can be maintained
            # without touching either source (same algebra as the
            # single-table lane — the signed multiset IS the joined
            # multiset's change, so the proof carries over verbatim)
            has_recompute = True
            agg_f = getattr(F, fn)
            dexprs.append(
                agg_f(F.when(adds, F.col(col))).alias(f"_ivm_a_{name}")
            )
            dexprs.append(
                agg_f(F.when(~adds, F.col(col))).alias(f"_ivm_r_{name}")
            )
    d = delta.groupBy(*group_cols).agg(*dexprs)
    if not (has_recompute or has_distinct):
        # pure-algebraic views skip groups the changes left intact
        moved = F.col("_ivm_dn") != 0
        for name, (fn, _c) in aggs.items():
            if fn in ("sum", "avg"):
                moved = moved | (
                    F.coalesce(F.col(f"_ivm_d_{name}"), F.lit(0)) != 0
                ) | (F.col(f"_ivm_dnn_{name}") != 0)
            else:
                moved = moved | (F.col(f"_ivm_d_{name}") != 0)
        d = d.where(moved)
    d = _pin(d.withColumn(IVM_KEY, _group_key(group_cols)))

    # count_distinct companions: same two-level reduction as the
    # single-table refresher, fed by the signed JOINED multiset
    dv_group_deltas: dict[str, DataFrame] = {}
    dv_upserts: list[tuple[str, DataFrame]] = []
    seq = st["seq"] + 1
    for name, (fn, col) in aggs.items():
        if fn != "count_distinct":
            continue
        signed_vals = delta.where(F.col(col).isNotNull()).select(
            *group_cols, F.col(col).alias(DV_VAL),
            F.col("_ivm_sgn").alias("_ivm_s"),
        )
        try:
            dd, upsert = _dv_fold(
                spark, view_path, name, signed_vals, group_cols, seq, _hint
            )
        except CompanionCorruption:
            # never commit a negative live count — rebuild both levels
            # from the pinned sources (always correct)
            return _full_join_refresh(spark, view_path, st,
                                      reason="companion-negative-count")
        dv_group_deltas[name] = dd
        if upsert is not None:
            dv_upserts.append((name, _dv_path(view_path, name), upsert))

    from async_pipes_spark.sources.sinks import read_table

    cur = read_table(spark, view_path)
    cur = cur.where(~F.coalesce(F.col(IVM_DEL), F.lit(False)))
    old_cols = [F.col(IVM_KEY)]
    for name, (fn, _c) in aggs.items():
        old_cols.append(F.col(name).alias(f"_ivm_o_{name}"))
        if fn == "sum":
            old_cols.append(F.col(_nn(name)).alias(f"_ivm_onn_{name}"))
        elif fn == "avg":
            old_cols.append(F.col(_as(name)).alias(f"_ivm_oas_{name}"))
            old_cols.append(F.col(_nn(name)).alias(f"_ivm_onn_{name}"))
    old_cols.append(F.col(IVM_N).alias("_ivm_on"))
    cur_aff = cur.join(
        _hint(d.select(IVM_KEY)), IVM_KEY, "left_semi"
    ).select(*old_cols)
    merged = d.join(_hint(cur_aff), IVM_KEY, "left")
    for name in dv_group_deltas:
        merged = merged.join(_hint(dv_group_deltas[name]), IVM_KEY, "left")

    new_n = F.coalesce(F.col("_ivm_on"), F.lit(0)) + F.col("_ivm_dn")
    proj: dict[str, Column] = {IVM_N: new_n}
    for name, (fn, _c) in aggs.items():
        if fn == "sum":
            nn = (F.coalesce(F.col(f"_ivm_onn_{name}"), F.lit(0))
                  + F.col(f"_ivm_dnn_{name}"))
            acc = (F.coalesce(F.col(f"_ivm_o_{name}"), F.lit(0))
                   + F.coalesce(F.col(f"_ivm_d_{name}"), F.lit(0)))
            proj[name] = F.when(nn > 0, acc).otherwise(F.lit(None))
            proj[_nn(name)] = nn
        elif fn == "avg":
            nn = (F.coalesce(F.col(f"_ivm_onn_{name}"), F.lit(0))
                  + F.col(f"_ivm_dnn_{name}"))
            acc = (F.coalesce(F.col(f"_ivm_oas_{name}"), F.lit(0))
                   + F.coalesce(F.col(f"_ivm_d_{name}"), F.lit(0)))
            proj[name] = F.when(nn > 0, acc / nn).otherwise(F.lit(None))
            proj[_as(name)] = F.when(nn > 0, acc).otherwise(F.lit(None))
            proj[_nn(name)] = nn
        elif fn == "count":
            proj[name] = (F.coalesce(F.col(f"_ivm_o_{name}"), F.lit(0))
                          + F.col(f"_ivm_d_{name}"))
        elif fn == "count_distinct":
            # level 2 of the two-level reduction over the joined
            # multiset (ivm._dv_fold)
            proj[name] = (
                F.coalesce(F.col(f"_ivm_o_{name}"), F.lit(0))
                + F.coalesce(F.col(f"_ivm_dd_{name}"), F.lit(0))
            )
        else:
            # min/max maintained WITHOUT touching either source
            # wherever the algebra proves the stored extreme (exact
            # mirror of ivm.py's single-table lane — see the case
            # derivation there); only a group whose extreme-holding
            # joined value was removed and not re-added flags needy
            o = F.col(f"_ivm_o_{name}")
            a = F.col(f"_ivm_a_{name}")
            r = F.col(f"_ivm_r_{name}")
            if fn == "max":
                absorbs, touches, combine = (a >= o), (r >= o), F.greatest
            else:
                absorbs, touches, combine = (a <= o), (r <= o), F.least
            proj[name] = (
                F.when(F.col("_ivm_on").isNull() | o.isNull(), a)
                .when(F.coalesce(absorbs, F.lit(False)), a)
                .when(r.isNull() | ~touches, combine(o, a))
                .otherwise(F.lit(None))  # needy: filled from rec below
            )
            proj[f"_ivm_f_{name}"] = (
                F.col("_ivm_on").isNotNull()
                & o.isNotNull()
                & ~F.coalesce(absorbs, F.lit(False))
                & F.coalesce(touches, F.lit(False))
                & (new_n > 0)
            )
    merged = merged.select(
        *group_cols, IVM_KEY,
        *[expr.alias(n) for n, expr in proj.items()],
    )

    ran_recompute = False
    if has_recompute:
        # O(changed groups) decision frame — one cheap materialization;
        # the pin itself counts the groups that lost an extreme
        # (observed, no job of its own)
        is_needy = reduce(
            Column.__or__,
            [
                F.col(f"_ivm_f_{name}")
                for name, (fn, _c) in aggs.items()
                if fn in _RECOMPUTED
            ],
        )
        seen = Observation()
        merged = _pin(
            merged.observe(seen, F.count_if(is_needy).alias("needy"))
        )
        # needy is a filter over the PINNED merged frame — every later
        # reference re-reads checkpointed blocks, so its own pin was a
        # pure extra job (the single-table lane in ivm.py never had one)
        needy = merged.where(is_needy).select(*group_cols, IVM_KEY)
        ran_recompute = seen.get["needy"] > 0
    if ran_recompute:
        # the key-probe gates inside the needy lane use each SLICE's
        # own backing bytes, not the feed-window flag — a tiny feed
        # over a large snapshot must not pay a distinct+collect peek
        # just to learn the key set exceeds the cap (r11 ADVICE item 2)
        merged = _recompute_join_extremes(
            spark, st, merged, needy, aggs, group_cols, join_keys,
            filt, _hint,
            a_snap=_live(
                _snap_upto(spark, st["left"], fl, bl, dl, until_l),
                st["left_tombstone_col"],
            ),
            b_snap=_live(
                _snap_upto(spark, st["right"], fr, br, dr, until_r),
                st["right_tombstone_col"],
            ),
            small_a=_snapshot_bytes(spark, st["left"], fl, bl, dl, until_l)
            <= _MOR_BROADCAST_MAX_BYTES,
            small_b=_snapshot_bytes(spark, st["right"], fr, br, dr, until_r)
            <= _MOR_BROADCAST_MAX_BYTES,
        )
    out = _stored(
        merged.drop(IVM_KEY), group_cols, aggs, types, seq,
        dead=F.col(IVM_N) == 0,
    )
    # companions commit FIRST (crash between = companion-seq drift →
    # full rebuild), and both commits are OCC-STRICT against the seqs
    # this refresh read its state at — a concurrent refresher racing
    # us to the pointer loses loudly and downgrades to the full lane
    # (same single-maintainer contract as refresh_agg_view)
    try:
        for dv_name, dv_path_i, comp_out in dv_upserts:
            mor_upsert(
                spark, dv_path_i, comp_out, [IVM_KEY, DV_VAL],
                version_cols=[IVM_SEQ], tombstone_col=IVM_DEL,
                auto_compact_deltas=view_compact_deltas,
                expected_seq=st["dv_seqs"][dv_name],
            )
        mor_upsert(
            spark, view_path, out, [IVM_KEY],
            version_cols=[IVM_SEQ], tombstone_col=IVM_DEL,
            auto_compact_deltas=view_compact_deltas,
            expected_seq=st["view_seq"],
        )
    except ConcurrentCommitError:
        return _full_join_refresh(spark, view_path, st,
                                  reason="concurrent-refresher")
    st.update(
        left_cursor=until_l, right_cursor=until_r, seq=seq,
        view_seq=_raw_pointer_seq(spark, view_path),
        dv_seqs={
            name: _raw_pointer_seq(spark, _dv_path(view_path, name))
            for name in st.get("dv_seqs", {})
        },
    )
    _write_state(spark, view_path, st)
    return {
        "mode": "incremental",
        "deltas_consumed": len(new_l) + len(new_r),
        "seq": seq,
        "minmax_recompute": ran_recompute,
    }


def _recompute_join_extremes(
    spark,
    st: dict,
    merged: DataFrame,
    needy: DataFrame,
    aggs: Mapping[str, tuple[str, str]],
    group_cols: list[str],
    join_keys: list[str],
    filt: str | None,
    _hint,
    a_snap: DataFrame,
    b_snap: DataFrame,
    small_a: bool = False,
    small_b: bool = False,
) -> DataFrame:
    """Fill the needy groups' min/max from the JOINED slice of the two
    pinned snapshots at the refresh cut — the join-view twin of
    ivm.py's needy-group lane. The slice never re-joins the tables:

    - each side is first pruned to ITS group columns' needy values
      (null-safe semi-join against the O(needy) group set — SQL GROUP
      BY groups NULLs, so ``eqNullSafe`` it is);
    - a side that carries NO group column (the classic fact side under
      a dim-grouped rollup) is pruned by the OTHER slice's join keys
      instead — ``isin`` pushdown when the key set inlines (reaching
      the parquet scan as a pushed filter), gated-broadcast semi-join
      past the cap;
    - the joined slice then filters EXACTLY on the needy surrogate
      keys and recomputes the extremes for those groups only.

    At 100 TB: a dim-grouped view whose needy group holds 0.1% of the
    fact table reads that 0.1% (group-pruned dim slice → key-pruned
    fact slice), not the table."""
    ga = [c for c in group_cols if c in a_snap.columns]
    gb = [c for c in group_cols if c in b_snap.columns]

    def _group_slice(side: DataFrame, gcols: list[str], tag: str) -> DataFrame:
        aff = _hint(needy.select(*gcols).distinct()).alias(f"_ivm_aff_{tag}")
        live = side.alias(f"_ivm_live_{tag}")
        cond = reduce(
            Column.__and__,
            [
                F.col(f"_ivm_live_{tag}.{c}").eqNullSafe(
                    F.col(f"_ivm_aff_{tag}.{c}")
                )
                for c in gcols
            ],
        )
        return live.join(aff, cond, "left_semi")

    a_sl = _group_slice(a_snap, ga, "a") if ga else a_snap
    b_sl = _group_slice(b_snap, gb, "b") if gb else b_snap
    if not ga:
        # gate the peek/broadcast on the PROBED slice's backing bytes
        # (b's snapshot here), never the feed-window flag — r11 ADVICE
        # item 2
        keys_b, inline_b = _keys_probe(spark, b_sl, join_keys, small_b)
        a_sl = (
            a_sl.where(_in_expr(join_keys[0], inline_b))
            if inline_b is not None
            else a_sl.join(keys_b, join_keys, "left_semi")
        )
    if not gb:
        keys_a, inline_a = _keys_probe(spark, a_sl, join_keys, small_a)
        b_sl = (
            b_sl.where(_in_expr(join_keys[0], inline_a))
            if inline_a is not None
            else b_sl.join(keys_a, join_keys, "left_semi")
        )
    joined = a_sl.join(b_sl, join_keys)
    if filt:
        joined = joined.where(F.expr(filt))
    rexprs = [
        getattr(F, fn)(col).alias(f"_ivm_rec_{name}")
        for name, (fn, col) in aggs.items()
        if fn in _RECOMPUTED
    ]
    rec = (
        joined.withColumn(IVM_KEY, _group_key(group_cols))
        .join(_hint(needy.select(IVM_KEY)), IVM_KEY, "left_semi")
        .groupBy(IVM_KEY)
        .agg(*rexprs)
    )
    out = merged.join(_hint(rec), IVM_KEY, "left")
    for name, (fn, _c) in aggs.items():
        if fn in _RECOMPUTED:
            out = out.withColumn(
                name,
                F.when(
                    F.col(f"_ivm_f_{name}"), F.col(f"_ivm_rec_{name}")
                ).otherwise(F.col(name)),
            )
    return out


def _full_join_refresh(spark, view_path: str, st: dict, reason: str) -> dict:
    """Recovery lane: recompute the join view from both sources' pinned
    snapshots, publish a FRESH view version, re-arm both cursors."""
    group_cols: list[str] = st["group_cols"]
    aggs = {k: (v[0], v[1]) for k, v in st["aggs"].items()}
    fl, bl, dl, tok_l = _side_state(spark, st["left"])
    fr, br, dr, tok_r = _side_state(spark, st["right"])
    a = _live(
        _snap_upto(spark, st["left"], fl, bl, dl, dl[-1] if dl else None),
        st["left_tombstone_col"],
    )
    b = _live(
        _snap_upto(spark, st["right"], fr, br, dr, dr[-1] if dr else None),
        st["right_tombstone_col"],
    )
    joined = a.join(b, st["join_keys"])
    if st.get("filter"):
        joined = joined.where(F.expr(st["filter"]))
    seq = st["seq"] + 1
    full = joined.groupBy(*group_cols).agg(*_full_agg_exprs(aggs))
    out = _stored(full, group_cols, aggs, st["types"], seq)
    write_manifest_table(spark, out, view_path)
    dv_seqs: dict[str, int] = {}
    for name, (fn, col) in aggs.items():
        if fn == "count_distinct":
            write_manifest_table(
                spark, _dv_rollup(joined, group_cols, col, seq),
                _dv_path(view_path, name),
            )
            dv_seqs[name] = _raw_pointer_seq(spark, _dv_path(view_path, name))
    st.update(
        left_cursor=dl[-1] if dl else None,
        right_cursor=dr[-1] if dr else None,
        left_base=tok_l, right_base=tok_r, seq=seq,
        view_seq=_raw_pointer_seq(spark, view_path),
        dv_seqs=dv_seqs,
    )
    _write_state(spark, view_path, st)
    return {"mode": "full", "reason": reason, "seq": seq}
