"""Incremental view maintenance over the merge-on-read change feed.

A materialized GROUP-BY view of a merge-on-read table, kept current by
consuming :func:`~async_pipes_spark.sources.cdc.mor_changes` instead of
recomputing: a refresh costs O(changes since the last refresh) — delta
bytes in, changed-group rows out — however large the source table. This
is the Delta Live Tables / Materialize maintenance model rebuilt on the
engine's own lake primitives:

- the CHANGE FEED is the input (`sources/cdc.py`): deltas read in full,
  base touched only on the contested slice, exact multiset apply
  contract — so per-group aggregate deltas derived from it are exact;
- ALGEBRAIC aggregates (``sum`` / ``count`` / ``avg`` — avg as hidden
  sum + non-null count, quotient recomputed per changed group) fold
  the feed directly:
  ``new = old + (post-images) − (pre-images)`` — no aggregate ever
  recomputes from the base. The feed itself touches the base only on
  the contested slice, file-pruned through the source's key-column
  sidecars when present: with blooms on the key, an insert-only change
  set refreshes with ZERO base files opened (pinned in tests, cursored
  steady-state included). SQL NULL semantics survive subtraction
  because each sum carries a hidden non-null count — a group whose last
  non-null value is deleted reads ``NULL`` again, not ``0``;
- DISTINCT aggregates (``count_distinct``) ride Materialize's standard
  two-level reduction: a COMPANION manifest table per aggregate holds
  per-(group, value) live-row counts — level 1, fully algebraic under
  the signed feed — and the view's distinct count folds level 2's
  equally-algebraic delta, (values that became live) − (values that
  died), per refresh. A pure value swap inside a group (every plain
  counter static) still moves the companion and lands exactly; both
  levels commit O(changed values) mor deltas, and a crash between the
  two commits reads as companion-seq drift → full rebuild, never a
  double-apply;
- NON-INVERTIBLE aggregates (``min`` / ``max``) are maintained from
  the feed alone wherever the multiset algebra proves the stored
  extreme (new/revived groups take their own inserts' extreme; an
  added value ≥ the old max absorbs it; removals that never touch the
  old extreme leave it standing) — only groups whose EXTREME-HOLDING
  value was removed and not re-added recompute, against the PINNED
  source snapshot the cursor denotes (never the racing live table),
  semi-joined on the broadcast needy-group set; a refresh with no
  needy group skips the source entirely;
- the view itself is a manifest table written through
  :func:`~async_pipes_spark.sources.sinks.mor_upsert` — a refresh
  commits one O(changed groups) delta, never a view rewrite. Dead
  groups (count reaching zero) become tombstones the reader filters.

Exactly-once under concurrent SOURCE writers: the refresh snapshots the
backlog once and bounds the feed with ``mor_changes(until=...)``, so a
delta landing mid-refresh can neither leak in nor be skipped. Crash
safety is by SAFE FALLBACK, not two-phase commit: the cursor state
records the view's commit seq it was written against; any mismatch
(crash between view commit and cursor write, out-of-band writes to the
view, a source compaction folding the cursor away) downgrades the next
refresh to a full recompute — always correct, never double-applied.
The refresher itself is single-writer by contract (like any IVM
maintainer); concurrent refreshers of the SAME view are not supported —
but the contract is ENFORCED, not assumed: the view and companion
commits are OCC-strict against the seq the refresh read its state at
(``mor_upsert(expected_seq=...)``), so a racing refresher loses its
commit loudly and downgrades to the always-correct full-recompute lane
(``reason="concurrent-refresher"``) instead of blind-appending a delta
folded on a stale view — never a silent double-apply.

At 100 TB: a 10-group rollup over a 100 TB table refreshes by reading
a few delta files and writing 10 rows. The full-recompute path exists
only as the recovery lane.

Reference parity: the reference engine (async-pipes, Rust) has no lake
or view layer; this module extends the training-data-pipeline scope
(metrics tables, quality dashboards, mixture accounting over mutable
corpora) the same way the rest of `sources/` does.
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
from async_pipes_spark.sources.sinks import (
    ConcurrentCommitError,
    _manifest_read,
    _MOR_BROADCAST_MAX_BYTES,
    _mor_backlog_bytes,
    _mor_resolve,
    _pmanifest_mapping,
    _pmanifest_read,
    _raw_pointer_seq,
    _read_immutable_dir,
    _read_mor_spec,
    _read_pmapping,
    _read_small_file,
    _replace_pointer,
    _state_base,
    _state_deltas,
    compact_small_files,
    mor_upsert,
    purge_tombstones,
    read_table,
    write_manifest_table,
)

#: hidden bookkeeping columns of the stored view table
IVM_KEY = "_ivm_key"    # NULL-safe surrogate of the group key (mor key)
IVM_SEQ = "_ivm_seq"    # refresh sequence (mor version col)
IVM_DEL = "_ivm_del"    # dead-group tombstone (mor tombstone col)
IVM_N = "_ivm_n"        # live rows in the group (count(*), liveness)

_ALGEBRAIC = ("sum", "count", "avg")
_RECOMPUTED = ("min", "max")
_DISTINCT = ("count_distinct",)
_STATE_FILE = "_ivm_state.json"

#: companion-table value/count column names (count_distinct aggregates)
DV_VAL = "_ivm_val"
DV_N = "_ivm_vn"


class CompanionCorruption(RuntimeError):
    """A count_distinct companion fold produced a NEGATIVE live-row
    count: the signed feed retracted a (group, value) more times than
    the companion ever recorded — an inconsistency that slipped past
    the seq-drift checks (r11 ADVICE item 1). Never committed: the
    refreshers catch this and route to the full-rebuild lane, which
    recomputes both levels from the pinned source snapshot."""


def _nn(name: str) -> str:
    """Hidden non-null counter column for a ``sum``/``avg`` aggregate."""
    return f"_ivm_nn_{name}"


def _as(name: str) -> str:
    """Hidden running-sum column for an ``avg`` aggregate — avg is
    maintained as (hidden sum, hidden non-null count) and the visible
    column is their quotient, recomputed for changed groups only.
    Exact wherever the sum is exact (integer/decimal inputs); float
    inputs carry the usual accumulated-rounding caveat any
    incremental AVG has."""
    return f"_ivm_as_{name}"


def _group_key(group_cols: Sequence[str]) -> Column:
    """Canonical NULL-safe surrogate for the group key: a mor key
    column must be non-NULL to participate in last-writer-wins, and
    group columns may legitimately hold NULLs (SQL GROUP BY groups
    them) — so the view keys on a JSON encoding that keeps nulls."""
    return F.to_json(
        F.struct(*[F.col(c).alias(c) for c in group_cols]),
        {"ignoreNullFields": "false"},
    )


def _validate_aggs(
    group_cols: Sequence[str], aggs: Mapping[str, tuple[str, str]]
) -> None:
    if not group_cols:
        raise ValueError(
            "group_cols is required — for a global aggregate, add a "
            "constant group column to the source view"
        )
    if not aggs:
        raise ValueError("aggs is empty — nothing to materialize")
    bad_groups = [c for c in group_cols if c.startswith("_ivm_")]
    if bad_groups:
        raise ValueError(
            f"group columns collide with IVM bookkeeping: {bad_groups}"
        )
    reserved = {IVM_KEY, IVM_SEQ, IVM_DEL, IVM_N}
    for name, (fn, col) in aggs.items():
        if fn not in _ALGEBRAIC + _RECOMPUTED + _DISTINCT:
            raise ValueError(
                f"unsupported aggregate {fn!r} for {name!r} — supported: "
                f"{', '.join(_ALGEBRAIC + _RECOMPUTED + _DISTINCT)}"
            )
        if fn != "count" and col == "*":
            raise ValueError(f"{fn}(*) is not a thing ({name!r})")
        if name in group_cols or name in reserved or name.startswith("_ivm_"):
            raise ValueError(f"aggregate name collides: {name!r}")
    dup = set(aggs) & set(group_cols)
    if dup:
        raise ValueError(f"aggregate names shadow group columns: {dup}")


def _validate_filter_expr(
    spark, frame: DataFrame, filter_expr: str, what: str
) -> None:
    """Create-time filter validation with the module's friendly error:
    a typo'd or tombstone-referencing predicate must be a ValueError
    here, not a raw AnalysisException at first use. Probed against an
    EMPTY local relation carrying only the frame's schema — on the
    real lineage Spark's ResolveMissingReferences rule would resolve a
    dropped (tombstone) column straight through the Filter, silently
    re-admitting the bookkeeping the view is defined to hide. No job
    runs: the probe is schema-only."""
    # Only ANALYSIS errors (parse / unresolved column / type mismatch)
    # are rewrapped as the friendly ValueError — a transient
    # infrastructure failure during the probe (py4j, session teardown)
    # propagates as itself instead of masquerading as a bad predicate
    # (r11 ADVICE item 3).
    from pyspark.errors import AnalysisException, ParseException

    try:
        probe = spark.createDataFrame([], frame.schema)
        probe.where(F.expr(filter_expr)).schema
    except (AnalysisException, ParseException) as e:
        raise ValueError(
            f"filter_expr does not analyze against the {what} columns "
            f"{sorted(frame.columns)}: {filter_expr!r}"
        ) from e


def _state_path(view_path: str) -> str:
    return f"{view_path}/{_STATE_FILE}"


def _read_state(spark, view_path: str) -> dict:
    content = _read_small_file(spark, _state_path(view_path))
    if content is None:
        raise ValueError(
            f"not an IVM view (no {_STATE_FILE}): {view_path} — create "
            "it with create_agg_view()"
        )
    return json.loads(content)


def _write_state(spark, view_path: str, state: dict) -> None:
    _replace_pointer(spark, _state_path(view_path), json.dumps(state))


def _pinned_state(spark, src_path: str) -> str:
    """The source's LIVE state string (``v_base`` or
    ``v_base+x_d1+...``), read ONCE — base identity, backlog, and
    cursor all derive from this single pin, so no concurrent commit
    can skew them against each other. Works for both manifest
    flavors (a partitioned manifest's live generation state has the
    same shape)."""
    info = _pmanifest_read(spark, src_path)
    if info is not None:
        return f"p:{info[0][0]}"
    states, _, _ = _manifest_read(spark, src_path)
    if not states:
        raise ValueError(f"not a manifest table: {src_path}")
    return f"f:{states[0]}"


def _pinned_snapshot(
    spark, src_path: str, state: str
) -> tuple[DataFrame, str | None, str]:
    """(resolved snapshot, cursor, base token) for a pinned state from
    :func:`_pinned_state`. The base token identifies the immutable
    base VERSION — a refresh finding a different token knows the base
    itself moved (compaction, a copy-on-write merge, purge, z-order,
    restore) and that cursor arithmetic is off the table."""
    flavor, _, body = state.partition(":")
    base_name = _state_base(body)
    deltas = _state_deltas(body)
    if flavor == "p":
        mapping = _pmanifest_mapping(spark, src_path, base_name)
        base = _read_pmapping(spark, src_path, mapping)
    else:
        base = _read_immutable_dir(
            spark, f"{src_path}/_data/{base_name}"
        )
    token = f"{flavor}:{base_name}"
    if not deltas:
        return base, None, token
    return (
        _mor_resolve(spark, src_path, base, deltas),
        deltas[-1],
        token,
    )


def _live(df: DataFrame, tombstone_col: str | None) -> DataFrame:
    if tombstone_col and tombstone_col in df.columns:
        return df.where(
            ~F.coalesce(F.col(tombstone_col), F.lit(False))
        ).drop(tombstone_col)
    return df


def _full_agg_exprs(aggs: Mapping[str, tuple[str, str]]) -> list[Column]:
    """The create-time / recovery-lane aggregate list: the user's
    aggregates plus the hidden liveness + non-null counters. ``avg``
    is computed as sum/count EXPLICITLY (not ``F.avg``) so the full
    lane's arithmetic is the same division the incremental lane
    performs — the two lanes can never disagree on the last ulp."""
    exprs: list[Column] = []
    for name, (fn, col) in aggs.items():
        if fn == "count":
            exprs.append(
                (F.count(F.lit(1)) if col == "*" else F.count(col)).alias(name)
            )
        elif fn == "avg":
            exprs.append((F.sum(col) / F.count(col)).alias(name))
            exprs.append(F.sum(col).alias(_as(name)))
            exprs.append(F.count(col).alias(_nn(name)))
        elif fn == "count_distinct":
            exprs.append(F.countDistinct(col).alias(name))
        else:
            exprs.append(getattr(F, fn)(col).alias(name))
        if fn == "sum":
            exprs.append(F.count(col).alias(_nn(name)))
    exprs.append(F.count(F.lit(1)).alias(IVM_N))
    return exprs


def _stored(
    df: DataFrame,
    group_cols: Sequence[str],
    aggs: Mapping[str, tuple[str, str]],
    types: Mapping[str, str],
    seq: int,
    dead: Column | None = None,
) -> DataFrame:
    """Project to the stored view schema: recorded types (so refresh
    arithmetic can never drift a decimal precision between commits),
    surrogate key, refresh seq, tombstone flag."""
    cols = [F.col(c) for c in group_cols]
    for name, (fn, _c) in aggs.items():
        cols.append(F.col(name).cast(types[name]).alias(name))
        if fn == "sum":
            cols.append(F.col(_nn(name)).cast("long").alias(_nn(name)))
        elif fn == "avg":
            cols.append(
                F.col(_as(name)).cast(types[_as(name)]).alias(_as(name))
            )
            cols.append(F.col(_nn(name)).cast("long").alias(_nn(name)))
    cols.append(F.col(IVM_N).cast("long").alias(IVM_N))
    out = df.select(
        *cols,
        _group_key(group_cols).alias(IVM_KEY),
        F.lit(seq).cast("long").alias(IVM_SEQ),
        (dead if dead is not None else F.lit(False)).alias(IVM_DEL),
    )
    return out


def _dv_path(view_path: str, name: str) -> str:
    """The companion table of a ``count_distinct`` aggregate: a
    manifest table of per-(group, value) live-row counts, nested under
    the view (the view reader never globs subdirectories, so the
    nesting is invisible to it). The two-level layout is Materialize's
    standard reduction plan for DISTINCT aggregation: level 1 counts
    rows per (group, value) — fully algebraic, foldable from the
    signed feed — and level 2 counts values whose level-1 count is
    positive, whose CHANGE is exactly (values that became live) −
    (values that died), also algebraic. Nothing ever rescans."""
    return f"{view_path}/_dv/{name}"


def _dv_rollup(
    live: DataFrame, group_cols: Sequence[str], col: str, seq: int
) -> DataFrame:
    """Full-lane companion contents: per-(group, value) live counts
    with the view's bookkeeping shape (keyed on group surrogate +
    value; NULL values excluded — SQL's COUNT(DISTINCT) ignores them)."""
    return (
        live.select(*group_cols, F.col(col).alias(DV_VAL))
        .where(F.col(DV_VAL).isNotNull())
        .groupBy(*group_cols, DV_VAL)
        .agg(F.count(F.lit(1)).cast("long").alias(DV_N))
        .select(
            *group_cols, DV_VAL, DV_N,
            _group_key(group_cols).alias(IVM_KEY),
            F.lit(seq).cast("long").alias(IVM_SEQ),
            F.lit(False).alias(IVM_DEL),
        )
    )


def _dv_fold(
    spark,
    view_path: str,
    name: str,
    signed: DataFrame,
    group_cols: Sequence[str],
    seq: int,
    hint,
) -> tuple[DataFrame, DataFrame | None]:
    """One count_distinct aggregate's refresh fold, shared by the
    single-table and join refreshers. ``signed`` carries group_cols +
    ``DV_VAL`` (non-null) + ``_ivm_s`` (±1 per multiset change row).
    Returns ``(per-group distinct-delta frame keyed on IVM_KEY,
    companion upsert frame or None when nothing moved)`` — both
    O(changed values)."""
    dv = (
        signed.groupBy(*group_cols, DV_VAL)
        .agg(F.sum("_ivm_s").alias("_ivm_vd"))
        .where(F.col("_ivm_vd") != 0)
    )
    dv = _pin(dv.withColumn(IVM_KEY, _group_key(group_cols)))
    comp_live = read_table(spark, _dv_path(view_path, name)).where(
        ~F.coalesce(F.col(IVM_DEL), F.lit(False))
    )
    aff_vals = comp_live.join(
        hint(dv.select(IVM_KEY, DV_VAL)), [IVM_KEY, DV_VAL], "left_semi"
    ).select(IVM_KEY, DV_VAL, F.col(DV_N).alias("_ivm_vo"))
    mv = _pin(
        dv.join(hint(aff_vals), [IVM_KEY, DV_VAL], "left")
        .withColumn(
            "_ivm_vnew",
            F.coalesce(F.col("_ivm_vo"), F.lit(0)) + F.col("_ivm_vd"),
        )
    )
    dd = mv.groupBy(IVM_KEY).agg(
        F.sum(
            (F.col("_ivm_vnew") > 0).cast("int")
            - (F.coalesce(F.col("_ivm_vo"), F.lit(0)) > 0).cast("int")
        ).alias(f"_ivm_dd_{name}")
    )
    # one probe job on the pinned frame answers BOTH "anything to
    # commit?" and "did any count go negative?" (r11 ADVICE item 1 —
    # a negative live count is corruption the seq-drift checks missed;
    # committing it as a LIVE row would persist silently)
    probe = mv.agg(
        F.count(F.lit(1)).alias("_ivm_pn"),
        F.min("_ivm_vnew").alias("_ivm_pmin"),
    ).first()
    if probe["_ivm_pn"] == 0:  # nothing to commit
        return dd, None
    if probe["_ivm_pmin"] is not None and probe["_ivm_pmin"] < 0:
        raise CompanionCorruption(
            f"count_distinct companion {name!r}: a (group, value) "
            f"live count folded to {probe['_ivm_pmin']} (< 0) — the "
            "feed retracted more than the companion recorded; "
            "routing to full rebuild"
        )
    upsert = mv.select(
        *group_cols, DV_VAL,
        F.col("_ivm_vnew").cast("long").alias(DV_N),
        F.col(IVM_KEY),
        F.lit(seq).cast("long").alias(IVM_SEQ),
        # belt-and-braces: <= 0 (not == 0) can never mark a negative
        # count as live even if one slipped past the probe
        (F.col("_ivm_vnew") <= 0).alias(IVM_DEL),
    )
    return dd, upsert


def create_agg_view(
    spark: SparkSession,
    src_path: str,
    view_path: str,
    group_cols: Sequence[str],
    aggs: Mapping[str, tuple[str, str]],
    src_tombstone_col: str | None = None,
    filter_expr: str | None = None,
) -> dict:
    """Materialize ``SELECT group_cols, aggs FROM src [WHERE
    filter_expr] GROUP BY group_cols`` as a manifest table at
    ``view_path`` and arm it for incremental refresh. ``aggs`` maps
    output column name → ``(fn, col)`` with ``fn`` in ``sum | count |
    avg | min | max | count_distinct`` (``count`` accepts ``"*"``;
    ``avg`` is maintained as hidden sum + non-null count and stays
    exact for integer/decimal inputs; ``count_distinct`` maintains a
    per-(group, value) companion table — the two-level reduction, see
    module doc). ``src_tombstone_col`` names the source's
    soft-tombstone flag when its mor/merge spec uses one — the view
    counts only live rows, exactly like the resolved read's consumers.
    ``filter_expr`` (a SQL boolean expression over source columns)
    makes it a FILTERED view: the predicate is applied to the source
    at create, to every change-feed image at refresh (a row UPDATED
    into/out of the predicate becomes an insert/delete of the filtered
    multiset — the per-row signs compose it for free), and to the
    min/max recompute slice.

    Returns the recorded state dict (cursor, seq, schema types)."""
    group_cols = list(group_cols)
    aggs = {k: (fn, col) for k, (fn, col) in aggs.items()}
    _validate_aggs(group_cols, aggs)
    snap, cursor, base_token = _pinned_snapshot(
        spark, src_path, _pinned_state(spark, src_path)
    )
    live = _live(snap, src_tombstone_col)
    missing = [c for c in group_cols if c not in live.columns] + [
        c for _n, (_f, c) in aggs.items() if c != "*" and c not in live.columns
    ]
    if missing:
        raise ValueError(f"columns not in source: {sorted(set(missing))}")
    if filter_expr:
        _validate_filter_expr(spark, live, filter_expr, "source's live")
        live = live.where(F.expr(filter_expr))
    full = live.groupBy(*group_cols).agg(*_full_agg_exprs(aggs))
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
            write_manifest_table(
                spark, _dv_rollup(live, group_cols, col, 0),
                _dv_path(view_path, name),
            )
            dv_seqs[name] = _raw_pointer_seq(spark, _dv_path(view_path, name))
    state = {
        "kind": "agg",
        "src": src_path,
        "group_cols": group_cols,
        "aggs": {k: list(v) for k, v in aggs.items()},
        "types": types,
        "src_tombstone_col": src_tombstone_col,
        "filter": filter_expr,
        "cursor": cursor,
        "src_base": base_token,
        "seq": 0,
        "view_seq": _raw_pointer_seq(spark, view_path),
        "dv_seqs": dv_seqs,
    }
    _write_state(spark, view_path, state)
    return state


def read_agg_view(spark: SparkSession, view_path: str) -> DataFrame:
    """The view's CURRENT contents — group columns + the aggregate
    columns, dead groups filtered, bookkeeping dropped. Equal to the
    full GROUP BY over the source AS OF the last refresh's cursor
    (pinned by the parity properties in tests)."""
    st = _read_state(spark, view_path)
    df = read_table(spark, view_path)
    live = df.where(~F.coalesce(F.col(IVM_DEL), F.lit(False)))
    return live.select(*st["group_cols"], *st["aggs"].keys())


def refresh_agg_view(
    spark: SparkSession,
    view_path: str,
    view_compact_deltas: int | None = 16,
    collect_stats: bool = False,
) -> dict:
    """Advance the view to the source's current state. Normally
    INCREMENTAL — consume the bounded change feed since the cursor,
    fold algebraic aggregates, recompute min/max for affected groups
    only, commit one O(changed groups) mor delta to the view. Falls
    back to a FULL recompute (fresh view version) when incremental
    apply cannot be proven safe: the cursor was folded away by a
    source compaction (detected at pin time OR as the pin/read race
    mor_changes surfaces), or the view's commit seq moved without a
    matching cursor write (a crashed refresh, an out-of-band write).
    All per-group frames broadcast only below the MOR resolver's byte
    gate — a catch-up refresh over a huge window degrades to shuffle
    joins instead of dying on the broadcast limit.

    ``view_compact_deltas`` bounds the view's own mor backlog (passed
    through to :func:`mor_upsert`); ``collect_stats`` adds the feed's
    input-file list to the returned stats (metadata-only, but it lists
    files — keep it off in hot loops).

    Returns ``{"mode": "noop" | "incremental" | "full", ...}``."""
    st = _read_state(spark, view_path)
    if st.get("kind", "agg") != "agg":
        raise ValueError(
            f"not a single-table agg view: {view_path} — use "
            "sources.ivm_join.refresh_join_view()"
        )
    src = st["src"]
    group_cols: list[str] = st["group_cols"]
    aggs = {k: (v[0], v[1]) for k, v in st["aggs"].items()}
    types: dict[str, str] = st["types"]
    tomb = st["src_tombstone_col"]
    filt = st.get("filter")

    if _raw_pointer_seq(spark, view_path) != st["view_seq"]:
        return _full_refresh(spark, view_path, st, reason="view-state-drift")
    for name, dv_seq in st.get("dv_seqs", {}).items():
        # a companion that moved without a matching state write (crash
        # between companion and view commits, out-of-band writes) makes
        # the level-1 counts untrustworthy — rebuild both levels
        if _raw_pointer_seq(spark, _dv_path(view_path, name)) != dv_seq:
            return _full_refresh(spark, view_path, st,
                                 reason="companion-state-drift")

    pinned = _pinned_state(spark, src)
    flavor, _, body = pinned.partition(":")
    if f"{flavor}:{_state_base(body)}" != st["src_base"]:
        # the BASE itself moved — a compaction folded deltas in, or a
        # copy-on-write merge / purge / z-order / restore rewrote it.
        # The cursor's delta arithmetic no longer describes the gap
        # between view and source; recompute from the new base. (The
        # documented CDF restart, taken automatically — and the guard
        # that makes "empty backlog" safely distinguishable from "no
        # changes".)
        return _full_refresh(spark, view_path, st, reason="source-base-moved")
    deltas = _state_deltas(body)
    cursor = st["cursor"]
    if cursor is not None and cursor not in deltas:
        # same base but the cursor's delta aged out of the state line
        # (a retention trim) — restart from a full read
        return _full_refresh(spark, view_path, st, reason="cursor-folded")
    new = deltas if cursor is None else deltas[deltas.index(cursor) + 1:]
    if not new:
        return {"mode": "noop", "deltas_consumed": 0, "seq": st["seq"]}
    until = new[-1]

    # spec drift guard: the view's liveness definition must match the
    # source's — a tombstone column appearing in the backlog that the
    # view was not created with would silently count dead rows
    try:
        bk, bv, bt, _era = _read_mor_spec(spark, src, new[0])
    except ValueError:
        # the delta dir vanished between pin and spec read: the same
        # mid-flight compaction race the feed read guards against
        return _full_refresh(spark, view_path, st, reason="cursor-raced")
    if bt != tomb:
        raise ValueError(
            f"source tombstone spec drifted: view records {tomb!r}, the "
            f"backlog resolves with {bt!r} — recreate the view with "
            "src_tombstone_col matching the source's merge spec"
        )

    try:
        feed = mor_changes(spark, src, since=cursor, until=until)
    except ValueError:
        # a source compaction/optimize raced between the state pin and
        # the feed read: the cursor/until names just left the live
        # backlog. Same recovery as detecting the fold at pin time —
        # recompute from the new base (the advice-flagged race).
        return _full_refresh(spark, view_path, st, reason="cursor-raced")
    if filt:
        # a FILTERED view maintains the filtered multiset: images that
        # fail the predicate contribute nothing; an update moving a
        # row across the predicate boundary degrades to insert/delete
        # of the filtered multiset through the per-row signs
        feed = feed.where(F.expr(filt))
    feed_files = sorted(feed.inputFiles()) if collect_stats else None
    if any(fn == "count_distinct" for fn, _c in aggs.values()):
        # a count_distinct view aggregates the feed TWICE (the plain
        # per-group fold + each companion's per-(group, value) fold) —
        # pin it once so the resolve never re-executes
        feed = _pin(feed)
    seq = st["seq"] + 1
    # broadcast gate, same policy as the MOR resolver (sinks.py): the
    # per-group frames below are O(changed groups) — normally tiny —
    # but a CATCH-UP refresh (a week of deltas, a backfill, a
    # near-unique group key) is O(feed window). The window's on-disk
    # byte size upper-bounds the changed-group count; past the gate
    # the joins run as plain shuffles and AQE decides (degrading,
    # never OOMing the 8 GB broadcast limit).
    small_window = (
        _mor_backlog_bytes(spark, src, new) <= _MOR_BROADCAST_MAX_BYTES
    )

    def _hint(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small_window else df

    # per-group aggregate deltas from the feed: post-images add,
    # pre-images subtract — one aggregation over O(changes) rows
    adds = F.col("_change_type").isin("insert", "update_postimage")
    sgn = F.when(adds, F.lit(1)).otherwise(F.lit(-1))
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
            # the per-group delta comes from the COMPANION fold below,
            # not the feed rows directly (a value swap inside one group
            # moves the companion but no feed-level counter)
            has_distinct = True
        else:
            # min/max: the feed's added/removed extremes decide per
            # group whether the stored extreme can be maintained
            # without touching the source at all (below)
            has_recompute = True
            agg_f = getattr(F, fn)
            dexprs.append(
                agg_f(F.when(adds, F.col(col))).alias(f"_ivm_a_{name}")
            )
            dexprs.append(
                agg_f(F.when(~adds, F.col(col))).alias(f"_ivm_r_{name}")
            )
    d = feed.groupBy(*group_cols).agg(*dexprs)

    if not (has_recompute or has_distinct):
        # pure-algebraic views skip groups the changes left numerically
        # intact (an update that only touched non-aggregated columns);
        # min/max and count_distinct views must keep every touched
        # group — a pure value swap moves them with zero counter drift
        moved = F.col("_ivm_dn") != 0
        for name, (fn, _c) in aggs.items():
            if fn in ("sum", "avg"):
                moved = moved | (F.coalesce(
                    F.col(f"_ivm_d_{name}"), F.lit(0)) != 0
                ) | (F.col(f"_ivm_dnn_{name}") != 0)
            elif fn == "count":
                moved = moved | (F.col(f"_ivm_d_{name}") != 0)
        d = d.where(moved)
    # materialize the per-group deltas ONCE: d is O(changed groups) —
    # tiny — but its lineage is the whole feed (resolve + joins + one
    # aggregation), and the plan below references d three times (the
    # affected-key semi, the merge join, the min/max affected set).
    # Without the pin each reference re-executes the feed.
    d = _pin(d.withColumn(IVM_KEY, _group_key(group_cols)))

    # count_distinct: fold the feed into each COMPANION table's
    # affected (group, value) slice — level 1 of the two-level
    # reduction (_dv_path doc). Everything here is O(changed values):
    # the per-(group, value) signed counts, the companion's semi-joined
    # old counts, the liveness transitions, and the per-group distinct
    # delta sum(became live) − sum(died) that levels up to the view.
    dv_group_deltas: dict[str, DataFrame] = {}
    dv_upserts: list[tuple[str, DataFrame]] = []
    for name, (fn, col) in aggs.items():
        if fn != "count_distinct":
            continue
        signed = feed.where(F.col(col).isNotNull()).select(
            *group_cols, F.col(col).alias(DV_VAL), sgn.alias("_ivm_s")
        )
        try:
            dd, upsert = _dv_fold(
                spark, view_path, name, signed, group_cols, seq, _hint
            )
        except CompanionCorruption:
            # never commit a negative live count — rebuild both levels
            # from the pinned source (always correct)
            return _full_refresh(spark, view_path, st,
                                 reason="companion-negative-count")
        dv_group_deltas[name] = dd
        if upsert is not None:
            dv_upserts.append((name, _dv_path(view_path, name), upsert))

    # the view's affected slice: broadcast-semi over the surrogate key
    # (the view scan never shuffles), then the O(changes)-sized join
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

    new_n_expr = F.coalesce(F.col("_ivm_on"), F.lit(0)) + F.col("_ivm_dn")
    proj: dict[str, Column] = {IVM_N: new_n_expr}
    for name, (fn, col) in aggs.items():
        if fn == "sum":
            nn = (
                F.coalesce(F.col(f"_ivm_onn_{name}"), F.lit(0))
                + F.col(f"_ivm_dnn_{name}")
            )
            acc = (
                F.coalesce(F.col(f"_ivm_o_{name}"), F.lit(0))
                + F.coalesce(F.col(f"_ivm_d_{name}"), F.lit(0))
            )
            proj[name] = F.when(nn > 0, acc).otherwise(F.lit(None))
            proj[_nn(name)] = nn
        elif fn == "avg":
            nn = (
                F.coalesce(F.col(f"_ivm_onn_{name}"), F.lit(0))
                + F.col(f"_ivm_dnn_{name}")
            )
            acc = (
                F.coalesce(F.col(f"_ivm_oas_{name}"), F.lit(0))
                + F.coalesce(F.col(f"_ivm_d_{name}"), F.lit(0))
            )
            # same division as _full_agg_exprs' sum/count — the lanes
            # can never disagree; NULL when no non-null value remains
            proj[name] = F.when(nn > 0, acc / nn).otherwise(F.lit(None))
            proj[_as(name)] = F.when(nn > 0, acc).otherwise(F.lit(None))
            proj[_nn(name)] = nn
        elif fn == "count":
            proj[name] = (
                F.coalesce(F.col(f"_ivm_o_{name}"), F.lit(0))
                + F.col(f"_ivm_d_{name}")
            )
        elif fn == "count_distinct":
            # level 2 of the two-level reduction: old distinct count +
            # (values that became live − values that died), from the
            # companion fold above; a touched group with no distinct
            # movement reads a NULL delta → +0
            proj[name] = (
                F.coalesce(F.col(f"_ivm_o_{name}"), F.lit(0))
                + F.coalesce(F.col(f"_ivm_dd_{name}"), F.lit(0))
            )
        else:
            # min/max maintained WITHOUT a source read wherever the
            # multiset algebra proves the stored extreme:
            #   - group new/revived (no live old row): every current
            #     row arrived through the feed → extreme = added one;
            #   - an added value absorbs the old extreme (>= for max):
            #     nothing removed can lower a max / raise a min;
            #   - no removed value TOUCHED the old extreme: survivors
            #     still hold it → combine(old, added).
            # Only a group whose extreme-holding value was removed and
            # not re-added needs its slice recomputed (flag below).
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
            flag = (
                F.col("_ivm_on").isNotNull()
                & o.isNotNull()
                & ~F.coalesce(absorbs, F.lit(False))
                & F.coalesce(touches, F.lit(False))
                & (new_n_expr > 0)
            )
            proj[f"_ivm_f_{name}"] = flag
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
        needy = merged.where(is_needy)
        ran_recompute = seen.get["needy"] > 0
    if ran_recompute:
        # recompute ONLY the needy groups, against the snapshot the
        # cursor denotes (base ∪ deltas[..until]) — the racing live
        # table may already carry later deltas. The base is read from
        # the PINNED state body (not the live pointer, which a racing
        # compaction may have advanced between our pin and here).
        upto = deltas[: deltas.index(until) + 1]
        base_name = _state_base(body)
        if flavor == "p":
            mapping = _pmanifest_mapping(spark, src, base_name)
            pbase = _read_pmapping(spark, src, mapping)
        else:
            pbase = _read_immutable_dir(
                spark, f"{src}/_data/{base_name}"
            )
        snap = _mor_resolve(spark, src, pbase, upto)
        # alias both sides: the needy-group set and the snapshot share
        # source lineage (both read the same delta dirs), and
        # unaliased attribute references across shared lineage trip
        # Spark's ambiguous-self-join resolution
        live = _live(snap, tomb)
        if filt:
            live = live.where(F.expr(filt))
        live = live.alias("_ivm_live")
        aff = _hint(
            needy.select(*group_cols).alias("_ivm_aff")
        )
        cond = reduce(
            Column.__and__,
            [
                F.col(f"_ivm_live.{c}").eqNullSafe(F.col(f"_ivm_aff.{c}"))
                for c in group_cols
            ],
        )
        rexprs = [
            getattr(F, fn)(col).alias(f"_ivm_rec_{name}")
            for name, (fn, col) in aggs.items()
            if fn in _RECOMPUTED
        ]
        rec = (
            live.join(aff, cond, "left_semi")
            .groupBy(*group_cols)
            .agg(*rexprs)
            .withColumn(IVM_KEY, _group_key(group_cols))
            .drop(*group_cols)
        )
        merged = merged.join(_hint(rec), IVM_KEY, "left")
        for name, (fn, _c) in aggs.items():
            if fn in _RECOMPUTED:
                merged = merged.withColumn(
                    name,
                    F.when(
                        F.col(f"_ivm_f_{name}"), F.col(f"_ivm_rec_{name}")
                    ).otherwise(F.col(name)),
                )

    out = _stored(
        merged.drop(IVM_KEY), group_cols, aggs, types, seq,
        dead=F.col(IVM_N) == 0,
    )
    stats: dict = {
        "mode": "incremental",
        "deltas_consumed": len(new),
        "seq": seq,
        "minmax_recompute": ran_recompute,
    }
    if collect_stats:
        stats["feed_input_files"] = feed_files
    # companions commit FIRST: a crash between a companion commit and
    # the view commit leaves the recorded dv seq behind the pointer,
    # which the next refresh reads as companion-state drift → full
    # recompute — never a double-apply. Both commits are OCC-STRICT
    # against the seq this refresh read its state at (expected_seq):
    # the refresher is single-maintainer BY CONTRACT (module doc), and
    # a concurrent refresher racing us to the pointer loses loudly
    # here instead of blind-appending a delta folded on a stale view —
    # the loser downgrades to the always-correct full-recompute lane.
    try:
        for dv_name, dv_path, comp_out in dv_upserts:
            mor_upsert(
                spark, dv_path, comp_out, [IVM_KEY, DV_VAL],
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
        return _full_refresh(spark, view_path, st,
                             reason="concurrent-refresher")
    st.update(
        cursor=until, seq=seq,
        view_seq=_raw_pointer_seq(spark, view_path),
        dv_seqs={
            name: _raw_pointer_seq(spark, _dv_path(view_path, name))
            for name in st.get("dv_seqs", {})
        },
    )
    _write_state(spark, view_path, st)
    return stats


def _full_refresh(spark, view_path: str, st: dict, reason: str) -> dict:
    """The recovery lane: recompute the view from a pinned source
    snapshot and commit it as a FRESH view version (no incremental
    arithmetic touches a state we cannot trust), then re-arm the
    cursor. Always correct; costs one source scan."""
    group_cols: list[str] = st["group_cols"]
    aggs = {k: (v[0], v[1]) for k, v in st["aggs"].items()}
    snap, cursor, base_token = _pinned_snapshot(
        spark, st["src"], _pinned_state(spark, st["src"])
    )
    live = _live(snap, st["src_tombstone_col"])
    if st.get("filter"):
        live = live.where(F.expr(st["filter"]))
    seq = st["seq"] + 1
    full = live.groupBy(*group_cols).agg(*_full_agg_exprs(aggs))
    out = _stored(full, group_cols, aggs, st["types"], seq)
    write_manifest_table(spark, out, view_path)
    dv_seqs: dict[str, int] = {}
    for name, (fn, col) in aggs.items():
        if fn == "count_distinct":
            # companions rebuild with the view: the full lane trusts
            # nothing incremental
            write_manifest_table(
                spark, _dv_rollup(live, group_cols, col, seq),
                _dv_path(view_path, name),
            )
            dv_seqs[name] = _raw_pointer_seq(spark, _dv_path(view_path, name))
    st.update(
        cursor=cursor, src_base=base_token, seq=seq,
        view_seq=_raw_pointer_seq(spark, view_path),
        dv_seqs=dv_seqs,
    )
    _write_state(spark, view_path, st)
    return {"mode": "full", "reason": reason, "seq": seq}


def optimize_agg_view(
    spark: SparkSession, view_path: str, purge_dead: bool = False
) -> None:
    """Fold the view's own mor backlog into a fresh base
    (:func:`compact_small_files`) and re-arm the cursor state for the
    new commit seq — without this re-arm the next refresh would read
    the seq drift as a crashed refresh and take the full-recompute
    lane. A crash in between is safe for the same reason. Companions
    of ``count_distinct`` aggregates compact (and re-arm) alongside.

    ``purge_dead=True`` additionally drops dead-GROUP rows from the
    view base and dead-VALUE rows from every companion
    (:func:`purge_tombstones`) — the periodic hygiene that stops a
    long-lived view from physically carrying every group and value
    that EVER existed. The horizon caution a general CDC lake needs
    does not apply here: the refresher is the view's ONLY writer and
    its commit seq is monotonic, so no stale replay can contest a
    purged key — and compaction runs first, so the purged tombstone
    is its key's only remaining version. A purged group/value that
    later revives re-inserts cleanly at a higher seq."""
    compact_small_files(spark, view_path)
    if purge_dead:
        purge_tombstones(spark, view_path, IVM_DEL)
    st = _read_state(spark, view_path)
    st["view_seq"] = _raw_pointer_seq(spark, view_path)
    for name in st.get("dv_seqs", {}):
        dvp = _dv_path(view_path, name)
        compact_small_files(spark, dvp)
        if purge_dead:
            purge_tombstones(spark, dvp, IVM_DEL)
        st["dv_seqs"][name] = _raw_pointer_seq(spark, dvp)
    _write_state(spark, view_path, st)
