"""File sinks — the terminal side of ``with_consumer`` for persistent
outputs (the reference's consumers are side-effecting closures,
reference src/pipeline/builder.rs:169-183; here they become
``df.write`` with scale-aware layout controls).

Layout knobs that matter at 100 TB:

- ``partition_by``: directory partitioning on low-cardinality keys →
  downstream partition pruning.
- ``bucket_by``: pre-shuffled, co-located layout on a join/agg key —
  downstream joins on that key skip their shuffle entirely (requires
  ``saveAsTable``).
- ``target_file_rows``: coalesce/repartition so output files land near
  a target size instead of one-file-per-task dust.

Mutable tables have ONE format: the manifest table, flat
(:func:`write_manifest_table`) or partitioned
(:func:`write_partitioned_manifest_table`). Immutable ``_data``
version dirs plus a commit log give every read-modify-write verb
(:func:`merge_upsert`, :func:`mor_upsert`, :func:`purge_tombstones`,
:func:`compact_small_files`, :func:`optimize_zorder`) optimistic
concurrency, time travel and object-store-safe commits. Those verbs
raise ``ValueError`` on a plain parquet directory; plain directories
stay readable (:func:`read_table`) and writable whole
(:func:`write_files`).
"""

from __future__ import annotations

import os

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def write_files(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
    repartition: int | None = None,
) -> None:
    """Write a DataFrame to files (parquet/csv/json/orc)."""
    if repartition:
        df = df.repartition(repartition, *(partition_by or []))
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if fmt == "csv":
        writer = writer.option("header", "true")
    writer.format(fmt).save(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    num_buckets: int,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist as a bucketed (optionally sorted) table: joins and
    aggregations on ``bucket_cols`` against other tables bucketed the
    same way run shuffle-free — the rows land pre-hashed into
    ``num_buckets`` files per write task, and the scan reports that
    hash partitioning to the planner, so no Exchange is needed on
    either side. ``path`` makes it an EXTERNAL table at that location
    (the data outlives/escapes the warehouse dir; DROP TABLE removes
    only the catalog entry). Bucket-file fan-out: each write task emits
    one file per bucket it holds — ``df.repartition(num_buckets,
    *bucket_cols)`` first to get exactly one file per bucket (Spark's
    repartition and bucketBy share the Murmur3-pmod hash)."""
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


#: pointer file naming the live data version of a manifest table
_MANIFEST = "_MANIFEST"

#: commit-log directory: one immutable marker file per commit, claimed
#: by atomic rename-no-overwrite — the serialization point that lets
#: MULTIPLE writers commit to one manifest table without lost updates
_COMMITS = "_commits"

#: first pointer line marking a PARTITIONED manifest table (generations
#: of per-partition version mappings instead of flat data versions)
_PMARK = "#partitioned"


# ---- merge-on-read states --------------------------------------------
#
# A pointer STATE line is either a plain copy-on-write state ("v_<id>"
# flat / "g_<id>" partitioned — the pre-MOR format, unchanged) or a
# merge-on-read state "v_<id>+x_<d1>+x_<d2>": the base version plus an
# ordered (oldest-first) list of immutable DELTA dirs under _data/,
# each holding one mor_upsert's update rows and a _spec control file
# naming the key/version/tombstone columns the table resolves by.
# Reads resolve base ∪ deltas with the SAME last-writer-wins window
# merge_upsert applies at write (version desc, later-delta-wins on
# ties, full-row-hash tiebreak), so a MOR table reads exactly what the
# equivalent sequence of copy-on-write merges would have stored; a
# compaction (compact_small_files / optimize_zorder) folds the deltas
# into a fresh base and publishes a plain state line again.


def _state_base(state: str) -> str:
    """The base version/generation name of a pointer state line."""
    return state.split("+", 1)[0]


def _state_deltas(state: str) -> list[str]:
    """The merge-on-read delta dir names of a state line, oldest
    first (empty for a plain copy-on-write state)."""
    return state.split("+")[1:]


def _state_data_dirs(state: str) -> list[str]:
    """Every ``_data/`` dir a FLAT state references (base + deltas) —
    the GC/vacuum refcount unit. (Partitioned states refcount their
    base through the generation mapping instead.)"""
    return state.split("+")


class ConcurrentCommitError(RuntimeError):
    """Another writer committed to the manifest table between this
    writer's read of the base state and its commit attempt, so the
    computed result would overwrite the other writer's changes (a lost
    update). Read-modify-write callers (:func:`merge_upsert`,
    :func:`purge_tombstones`, :func:`compact_small_files`,
    :func:`optimize_zorder`) catch this internally and re-run against
    the fresh base (bounded retries); seeing it escape means the table
    is under sustained write contention — serialize the writers or
    raise ``occ_retries``."""


#: Hadoop FileSystem handles memoized per (gateway, scheme, authority).
#: FileSystem.get is already cached JVM-side, but every uncached call
#: still costs 2-3 py4j round-trips (hadoopConfiguration + getFileSystem)
#: — ~250 calls per IVM lifecycle query before this cache (guide §1.2:
#: fix the per-call work once the algorithm is right). The gateway
#: object itself is held in the value, so a key can never alias a
#: garbage-collected gateway's id.
_FS_CACHE: dict = {}


def _hadoop_fs(spark, path_str: str):
    jvm = spark._jvm
    scheme, sep, rest = path_str.partition("://")
    if sep:
        authority = rest.split("/", 1)[0]
    else:
        scheme, authority = "", ""
    gateway = spark.sparkContext._gateway
    key = (id(gateway), scheme, authority)
    hit = _FS_CACHE.get(key)
    p = jvm.org.apache.hadoop.fs.Path(path_str)
    if hit is None:
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        _FS_CACHE[key] = (gateway, fs)
    else:
        fs = hit[1]
    return fs, p, jvm


def _local_fs_path(path_str: str) -> str | None:
    """The local-filesystem path behind ``path_str``, or None for any
    non-local scheme (object stores / HDFS keep the Hadoop stream)."""
    if "://" not in path_str and not path_str.startswith("file:"):
        return path_str
    if path_str.startswith("file://"):
        rest = path_str[len("file://") :]
        # file:///p → /p ; file://host/p carries an authority — not local
        return rest if rest.startswith("/") else None
    if path_str.startswith("file:"):
        return path_str[len("file:") :]
    return None


def _read_small_file(spark, file_path: str) -> str | None:
    """Contents of one small control file (pointer / commit marker /
    generation mapping), or None if absent. Spark's own readers skip
    underscore-prefixed files — exactly why every control file here is
    underscore-named: a plain read of the table root never sees them.

    Local paths read natively in the driver (guide §1.2: the Hadoop
    stream costs ~5 py4j round-trips per file — exists, open, read,
    close — and one IVM lifecycle reads control files ~240 times; a
    native read of the same bytes is ~3 orders of magnitude cheaper
    and sees the same rename-atomic contents). Any other scheme, and
    any local OSError besides absence, takes the Hadoop stream path
    unchanged."""
    lp = _local_fs_path(file_path)
    if lp is not None:
        try:
            with open(lp, "r", encoding="utf-8") as f:
                return f.read()
        except FileNotFoundError:
            return None
        except OSError:
            pass  # fall through to the Hadoop stream
    fs, p, jvm = _hadoop_fs(spark, file_path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def _parse_seq(lines: list[str]) -> int:
    """The commit sequence number a pointer/marker body carries
    (``#seq=N``); 0 for pre-OCC pointers, which predate the commit
    log entirely."""
    for ln in lines:
        if ln.startswith("#seq="):
            try:
                return int(ln[len("#seq=") :])
            except ValueError:
                pass
    return 0


def _marker_path(path: str, seq: int) -> str:
    return f"{path}/{_COMMITS}/c_{seq:012d}"


def _split_lines(content: str) -> list[str]:
    return [ln.strip() for ln in content.splitlines() if ln.strip()]


def _manifest_lines(spark, path: str) -> list[str]:
    """The table's LIVE state lines (version names live-first plus
    ``#``-prefixed metadata). Empty list if ``path`` is not a manifest
    table.

    Reads the ``_MANIFEST`` pointer, then ROLLS FORWARD through any
    newer commit-log markers: a commit is durable the instant its
    marker lands in ``_commits/`` (the marker carries the full pointer
    body), and the pointer file is just the published snapshot — a
    writer crashing between its marker claim and its pointer write
    delays nobody and loses nothing, because every reader resolves
    the newest marker and the next commit republishes the pointer."""
    content = _read_small_file(spark, f"{path}/{_MANIFEST}")
    lines = _split_lines(content) if content is not None else []
    seq = _parse_seq(lines) if lines else 0
    while True:
        nxt = _read_small_file(spark, _marker_path(path, seq + 1))
        if nxt is None:
            return lines
        nlines = _split_lines(nxt)
        if _parse_seq(nlines) != seq + 1:
            # unparsable marker: impossible via the rename claim (the
            # body is complete before the rename); stop conservatively
            return lines
        lines, seq = nlines, seq + 1


def _raw_pointer_seq(spark, path: str) -> int:
    """The pointer FILE's sequence, without marker roll-forward — the
    ABA guard: a successful claim of slot N is only valid while the
    published pointer is still behind N (see :func:`_claim_commit`)."""
    content = _read_small_file(spark, f"{path}/{_MANIFEST}")
    return _parse_seq(_split_lines(content)) if content is not None else 0


def _claim_commit(spark, path: str, seq: int, body: str) -> bool:
    """Atomically claim commit slot ``seq`` by renaming a fully-written
    marker file into ``_commits/c_<seq>``. Rename-no-overwrite is the
    exclusivity primitive: it fails if the slot is already taken (local
    FS and HDFS return false / throw; object stores need a conditional
    PUT — the same LogStore contract Delta Lake documents for S3).
    Because the body is complete BEFORE the rename, a claimed marker is
    never partial: the claim itself is the durable commit."""
    import uuid

    fs, dst, jvm = _hadoop_fs(spark, _marker_path(path, seq))
    fs.mkdirs(dst.getParent())
    tmp = jvm.org.apache.hadoop.fs.Path(
        f"{path}/{_COMMITS}/.tmp_{uuid.uuid4().hex[:12]}"
    )
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(body.encode()))
    finally:
        out.close()
    if fs.exists(dst) or not fs.rename(tmp, dst):
        fs.delete(tmp, False)
        return False
    return True


def _manifest_read(spark, path: str) -> tuple[list[str], int, int]:
    """(retained versions live-first, keep_versions, commit seq) from
    the live state (pointer rolled forward through newer markers).
    Pointers written before retention was configurable carry no
    ``#keep=`` line and default to 2 (live + previous — the original
    hardcoded policy, so existing tables keep their behavior). A
    PARTITIONED manifest pointer (first line ``#partitioned``) parses
    as no-versions here — its generations are not flat data versions,
    and treating them as one would resolve reads to nonexistent dirs;
    callers route through :func:`_pmanifest_read` first."""
    lines = _manifest_lines(spark, path)
    if lines and lines[0] == _PMARK:
        return [], 2, _parse_seq(lines)
    versions = [ln for ln in lines if not ln.startswith("#")]
    keep = 2
    for ln in lines:
        if ln.startswith("#keep="):
            try:
                keep = max(1, int(ln[len("#keep=") :]))
            except ValueError:
                pass
    return versions, keep, _parse_seq(lines)


def manifest_version(spark, path: str) -> str | None:
    """The live BASE data version of a manifest table, or None if
    ``path`` is not one (no ``_MANIFEST`` pointer present). On a
    merge-on-read state this is the base version only — outstanding
    deltas are reported by :func:`mor_deltas`, and a read of just the
    base dir is NOT the table (use :func:`read_manifest_table`)."""
    versions, _, _ = _manifest_read(spark, path)
    return _state_base(versions[0]) if versions else None


def mor_deltas(spark, path: str) -> list[str]:
    """The live state's outstanding merge-on-read delta dirs, oldest
    first — for BOTH manifest flavors (a flat manifest's pointer
    states and a partitioned manifest's live generation state both
    carry their deltas in the state line this parses); [] for a
    copy-on-write state or a plain directory. Non-empty means: reads
    must resolve (the engine's readers do), stats/bloom sidecars cover
    only the base (their planners prune the base and union resolved
    deltas, or fall back), and a compaction will fold the backlog.
    ONE pointer read decides both manifest flavors — this sits on hot
    commit paths (a foreachBatch merge calls it per micro-batch), so
    it must not stack py4j small-file probes."""
    lines = _manifest_lines(spark, path)
    if not lines:
        return []
    states = [ln for ln in lines if not ln.startswith("#")]
    return _state_deltas(states[0]) if states else []


def _resolve_table_path(spark, path: str) -> str:
    """Data directory to READ for a table path: the live BASE version
    dir of a manifest table, or the path itself for a plain parquet
    dir. Callers that can see merge-on-read tables must check
    :func:`mor_deltas` — the base dir alone is not the table when
    deltas are outstanding."""
    v = manifest_version(spark, path)
    return f"{path}/_data/{v}" if v else path


def _replace_pointer(spark, pointer_path: str, body: str) -> None:
    """Replace a single pointer file via tmp-write + rename — on a real
    object store the PUT is atomic; on HDFS the rename is atomic; on
    the tiny delete→rename window of other filesystems a crash leaves
    the pointer MISSING — visible and recoverable, never silent loss,
    because the dirs it names are immutable (and for the ``_MANIFEST``
    pointer specifically, recoverable automatically: readers roll
    forward through the commit-log markers)."""
    import uuid

    fs, man_p, jvm = _hadoop_fs(spark, pointer_path)
    tmp_p = jvm.org.apache.hadoop.fs.Path(
        f"{pointer_path}.tmp.{uuid.uuid4().hex[:8]}"
    )
    out = fs.create(tmp_p, True)
    try:
        out.write(bytearray(body.encode()))
    finally:
        out.close()
    fs.delete(man_p, False)
    if not fs.rename(tmp_p, man_p):
        raise OSError(f"pointer rename failed for {pointer_path}")


def _publish_pointer(spark, path: str, body: str, seq: int) -> None:
    """Publish the ``_MANIFEST`` pointer snapshot for a claimed commit.
    The commit is already durable (its marker holds the identical
    body), so this is the best-effort visibility step: a lost race
    against a NEWER commit's publish is accepted silently (their
    pointer supersedes ours; roll-forward covers any interleaving),
    and a momentary delete→rename window costs readers nothing — they
    recover the state from the markers."""
    fs, _, jvm = _hadoop_fs(spark, path)
    for _ in range(3):
        try:
            _replace_pointer(spark, f"{path}/{_MANIFEST}", body)
            return
        except OSError:
            if _raw_pointer_seq(spark, path) >= seq:
                return  # a newer commit published past us — fine
    if _raw_pointer_seq(spark, path) < seq:
        raise OSError(f"pointer publish failed for {path} (commit seq {seq})")


def _manifest_commit(
    spark,
    path: str,
    df: DataFrame,
    keep_versions: int | None = None,
    expected_seq: int | None = None,
) -> None:
    """Commit ``df`` as the new live version of a manifest table.

    Object-store-safe copy-on-write: the data lands in a fresh
    IMMUTABLE ``_data/v_<uuid>`` directory (never touching live data —
    a failure mid-write leaves an orphan dir, not a broken table), then
    the commit publishes through the commit log + pointer.
    The pointer lists every RETAINED version live-first plus
    ``#keep=N`` / ``#seq=N`` metadata lines; ``keep_versions=None``
    inherits the table's stored retention (default 2 = live +
    previous). Versions this commit drops off the retained window are
    garbage-collected AFTER the commit, so in-flight readers that
    resolved a retained version finish against intact files.

    OPTIMISTIC CONCURRENCY — no single-writer assumption: commits
    serialize through the ``_commits/`` log. Claiming slot N
    (:func:`_claim_commit` — atomic rename-no-overwrite of a marker
    carrying the FULL pointer body) is the durable commit; only the
    claimant of slot N may publish the pointer at seq N, and readers
    roll the pointer forward through newer markers, so a writer
    crashing between claim and publish neither wedges nor loses the
    table. ``expected_seq`` (read-modify-write callers: the seq
    observed when the base was read) turns a lost race into
    :class:`ConcurrentCommitError` — never a lost update; blind
    overwrites (None) re-read and retry the claim internally. GC here
    deletes ONLY versions this commit drops from its own lineage —
    never an unreferenced dir, which may be a concurrent writer's
    in-flight commit (crashed-commit orphans are reclaimed by
    :func:`vacuum_manifest`)."""
    import uuid

    # fast-fail a stale read-modify-write before the expensive write
    _, _, seq0 = _manifest_read(spark, path)
    if expected_seq is not None and seq0 != expected_seq:
        raise ConcurrentCommitError(
            f"{path}: base read at commit seq {expected_seq}, table now at "
            f"{seq0}"
        )
    version = f"v_{uuid.uuid4().hex[:12]}"
    df.write.mode("error").parquet(f"{path}/_data/{version}")
    _record_dir_schema(f"{path}/_data/{version}", df)
    fs, _, jvm = _hadoop_fs(spark, f"{path}/{_MANIFEST}")

    def make_retained(prev_versions: list[str], prev_keep: int):
        keep = prev_keep if keep_versions is None else max(1, keep_versions)
        return ([version] + prev_versions)[:keep], keep

    def abandon_cleanup() -> None:
        # our version dir is unreferenced — remove it before raising
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{path}/_data/{version}"), True)

    _flat_pointer_commit(
        spark, path, make_retained, expected_seq, abandon_cleanup
    )


def _flat_pointer_commit(
    spark,
    path: str,
    make_retained,
    expected_seq: int | None = None,
    abandon_cleanup=None,
) -> None:
    """The ONE claim→publish→GC sequence for flat-manifest pointer
    commits, shared by :func:`_manifest_commit` (new data version) and
    :func:`restore_manifest_table` (pointer-only re-ordering) so the
    concurrency-critical protocol — OCC fast-fail, slot claim, ABA
    guard + marker release, publish, lineage-only GC, sidecar refresh —
    has exactly one definition. ``make_retained(prev_versions,
    prev_keep) -> (retained, keep) | None`` builds each attempt's
    retained list from fresh state (None = nothing to do, return
    without committing); ``abandon_cleanup`` runs before every
    ConcurrentCommitError (a data-version commit deletes its
    unreferenced dir here)."""
    import time

    fs, _, jvm = _hadoop_fs(spark, f"{path}/{_MANIFEST}")

    def _abandon(reason: str) -> None:
        if abandon_cleanup is not None:
            abandon_cleanup()
        raise ConcurrentCommitError(f"{path}: {reason}")

    for attempt in range(64):
        prev_versions, prev_keep, seq = _manifest_read(spark, path)
        if expected_seq is not None and seq != expected_seq:
            _abandon(
                f"base read at commit seq {expected_seq}, table now at {seq}"
            )
        made = make_retained(prev_versions, prev_keep)
        if made is None:
            return  # no-op against the current state
        retained, keep = made
        body = "\n".join(retained) + f"\n#keep={keep}\n#seq={seq + 1}\n"
        if _claim_commit(spark, path, seq + 1, body):
            if _raw_pointer_seq(spark, path) > seq:
                # ABA: our claimed slot number had been used and
                # vacuumed before a long stall of ours — the published
                # pointer is already past it. Release and abort.
                fs.delete(
                    jvm.org.apache.hadoop.fs.Path(_marker_path(path, seq + 1)),
                    False,
                )
                _abandon(f"stale commit slot {seq + 1} (table moved past it)")
            break
        if expected_seq is not None:
            _abandon(
                f"lost commit slot {seq + 1} to a concurrent writer"
            )
        # blind write racing another blind write: wait for the winner's
        # state to become readable, then rebuild on top of it
        time.sleep(min(0.05 * (attempt + 1), 1.0))
    else:
        _abandon("could not claim a commit slot after 64 attempts")
    _publish_pointer(spark, path, body, seq + 1)
    # lineage-only GC: exactly the states THIS commit dropped from the
    # retained window it inherited — REFCOUNTED over data dirs, because
    # merge-on-read states share dirs (state "v_a+x_1" and its parent
    # "v_a" both reference v_a; dropping the parent must not delete the
    # live state's base)
    retained_set = set(retained)
    retained_dirs: set[str] = set()
    for s in retained:
        retained_dirs.update(_state_data_dirs(s))
    for s in prev_versions:
        if s in retained_set:
            continue
        for d in _state_data_dirs(s):
            if d not in retained_dirs:
                fs.delete(jvm.org.apache.hadoop.fs.Path(f"{path}/_data/{d}"), True)
    # a table carrying a stats/bloom sidecar keeps it fresh across
    # commits (and GCs sidecars of dropped versions) — data skipping
    # must not silently die at the first merge/compact after
    # write_file_stats / write_file_bloom. Sidecars are named by BASE
    # version (they index base files; MOR-backlogged states skip
    # pruning until compaction publishes a fresh base).
    from async_pipes_spark.sources.stats import (
        refresh_file_bloom,
        refresh_file_stats,
    )

    retained_bases = {_state_base(s) for s in retained}
    refresh_file_stats(spark, path, retain=retained_bases)
    refresh_file_bloom(spark, path, retain=retained_bases)


def write_manifest_table(
    spark, df: DataFrame, path: str, keep_versions: int | None = None
) -> None:
    """Create (or fully rewrite) an UNPARTITIONED manifest table: data
    lives in immutable ``_data/v_*`` dirs, a ``_MANIFEST`` pointer file
    names the live one, and every commit is a single-object pointer
    replace (object-store-safe), serialized against concurrent writers
    through the commit log (see :func:`_manifest_commit`). This (or
    :func:`write_partitioned_manifest_table`) is how a table becomes
    mutable: the read-modify-write verbs refuse plain parquet
    directories. ``keep_versions`` sets the time-travel
    retention depth (stored in the pointer; later commits through
    :func:`merge_upsert` / :func:`purge_tombstones` /
    :func:`compact_small_files` inherit it; default 2 = live +
    previous). Read the table via :func:`read_manifest_table` (plain
    ``spark.read.parquet`` on the root would see every version)."""
    _manifest_commit(spark, path, df, keep_versions)


def manifest_versions(spark, path: str) -> list[str]:
    """The RETAINED versions of a manifest table, live first (up to the
    table's ``keep_versions``), straight from the pointer file. An
    orphan ``_data`` dir left by a crashed commit is deliberately NOT
    listed — it may be partially written, and reading it would be
    silent data loss; only versions a pointer replace actually
    published are time-travelable."""
    versions, _, _ = _manifest_read(spark, path)
    if not versions:
        raise ValueError(f"not a manifest table (no {_MANIFEST}): {path}")
    return versions


def read_manifest_table(spark, path: str, version: str | None = None) -> DataFrame:
    """Read a manifest table (mergeSchema, matching the engine's CDC
    read discipline): the live state by default, or — TIME TRAVEL
    over the retained window — any state still listed by
    :func:`manifest_versions` (GC keeps the newest ``keep_versions``
    commits, default live + previous, so recent history stays readable
    until it ages out). A merge-on-read state (``v_base+x_d1+...``)
    resolves base ∪ deltas at read via the same last-writer-wins
    window the copy-on-write merge applies at write — the returned
    DataFrame is row-for-row what the equivalent
    :func:`merge_upsert` sequence would have stored (soft tombstone
    rows included; readers filter them exactly as on a COW table)."""
    states, _, _ = _manifest_read(spark, path)
    if version is None:
        if not states:
            if _pmanifest_read(spark, path) is not None:
                raise ValueError(
                    f"{path} is a PARTITIONED manifest table; read it with "
                    "read_partitioned_manifest()"
                )
            raise ValueError(f"not a manifest table (no {_MANIFEST}): {path}")
        state = states[0]
    else:
        if version not in states:
            raise ValueError(
                f"version {version!r} not retained (have {states}); "
                "manifest GC keeps the newest keep_versions commits only"
            )
        state = version
    base = _read_immutable_dir(spark, f"{path}/_data/{_state_base(state)}")
    deltas = _state_deltas(state)
    if not deltas:
        return base
    return _mor_resolve(spark, path, base, deltas)


def _write_mor_spec(
    spark, path: str, delta: str,
    key_cols: Sequence[str], version_cols: Sequence[str],
    tombstone_col: str | None,
    era_cols: Sequence[str] | None = None,
) -> None:
    body = (
        f"keys={','.join(key_cols)}\n"
        f"versions={','.join(version_cols)}\n"
        f"tombstone={tombstone_col or ''}\n"
    )
    if era_cols:
        # the batch's OWN column set at write time — the columns the
        # equivalent COW merge would have hashed its tie-break over
        # (merge_upsert hashes sorted(updates.columns)); recorded so
        # the read-time resolver reproduces the same winner across an
        # additive schema evolution inside one backlog
        body += f"cols={','.join(era_cols)}\n"
    _replace_pointer(spark, f"{path}/_data/{delta}/_spec", body)


#: schemas of IMMUTABLE data dirs, memoized across reads. Every
#: ``_data/v_*`` / ``_data/x_*`` dir (and a partitioned manifest's
#: per-partition version dir) is written by exactly ONE Spark write
#: (write_manifest_table / mor_upsert / merge / compact / OPTIMIZE) and
#: never rewritten in place — so its files share one schema, the
#: mergeSchema-merged schema IS any file's schema, and re-inferring it
#: on every read is pure waste: measured ~105 ms per inferred read and
#: ~250 ms per mergeSchema read vs ~20 ms schema-given on this host
#: (guide §1.2 per-task work; §6 driver-side planning). The writers of
#: flat ``_data`` dirs (:func:`_manifest_commit`, :func:`mor_upsert`)
#: record the schema they wrote (:func:`_record_dir_schema`), so a dir
#: this process wrote is never inferred; a dir another process wrote
#: is inferred once, on its first read. Cross-version schema EVOLUTION
#: is reconciled by the resolver's unionByName(allowMissingColumns),
#: never by the per-dir read, so a cached per-dir schema loses nothing.
_DIR_SCHEMA_CACHE: dict[str, object] = {}


def _as_nullable(dt):
    """``dt`` with every struct field, array element and map value
    nullable (field metadata kept) — the schema a parquet read returns
    for data written as ``dt``."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(dt, StructType):
        return StructType([
            StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
            for f in dt.fields
        ])
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(
            _as_nullable(dt.keyType), _as_nullable(dt.valueType), True
        )
    return dt


def _record_dir_schema(dir_path: str, df: DataFrame) -> None:
    """Memoize the schema of the immutable dir ``df`` was just written
    to — what a mergeSchema read of it would infer, with no Spark job."""
    _DIR_SCHEMA_CACHE[dir_path] = _as_nullable(df.schema)


def _read_immutable_dir(spark, *paths: str, schema_dir: str | None = None):
    """Read parquet from one immutable data dir (or a pruned subset of
    its files, with ``schema_dir`` naming the dir that carries the
    schema) with the dir's schema memoized — equivalent to the
    mergeSchema read for single-writer dirs (see _DIR_SCHEMA_CACHE),
    minus the per-read footer sweep and inference job."""
    sch = _dir_schema(spark, schema_dir or paths[0])
    return spark.read.schema(sch).parquet(*paths)


def _dir_schema(spark, dir_path: str):
    """The memoized schema of one immutable data dir."""
    sch = _DIR_SCHEMA_CACHE.get(dir_path)
    if sch is None:
        sch = spark.read.option("mergeSchema", "true").parquet(dir_path).schema
        _DIR_SCHEMA_CACHE[dir_path] = sch
    return sch


def _read_immutable_dirs(spark, dirs: Sequence[str]):
    """One multi-dir parquet read over immutable data dirs, schema
    merged in PYTHON from the per-dir memoized schemas (field order =
    first appearance; everything nullable — a file missing a column
    reads NULL there, exactly the mergeSchema shape for the engine's
    ADDITIVE evolution). A same-name type conflict (which additive
    evolution never produces) falls back to the real mergeSchema read
    rather than guessing."""
    from pyspark.sql.types import StructField, StructType

    fields: dict[str, StructField] = {}
    for d in dirs:
        for f in _dir_schema(spark, d).fields:
            prev = fields.get(f.name)
            if prev is None:
                fields[f.name] = StructField(f.name, f.dataType, True)
            elif prev.dataType != f.dataType:
                return spark.read.option("mergeSchema", "true").parquet(*dirs)
    return spark.read.schema(StructType(list(fields.values()))).parquet(*dirs)


#: spec files live inside IMMUTABLE delta dirs (written once by
#: :func:`_write_mor_spec`, never rewritten — the dir is only ever
#: deleted whole by compaction GC), so positive reads memoize safely:
#: one lifecycle query re-reads the same specs dozens of times (upsert
#: validation, feed construction, per-delta resolve). Vanished-delta
#: RACE DETECTION is unaffected — it keys off the live pointer
#: (``mor_changes`` validates since/until against ``mor_deltas``),
#: never off a spec read succeeding.
_MOR_SPEC_CACHE: dict[str, tuple] = {}


def _read_mor_spec(
    spark, path: str, delta: str
) -> tuple[list[str], list[str], str | None, list[str]]:
    """(key_cols, version_cols, tombstone_col, era_cols) a delta dir
    resolves by. Every delta of one table carries the same
    (keys, versions, tombstone) spec (:func:`mor_upsert` validates
    against the live backlog's); ``era_cols`` is the batch's write-time
    column set for the tie-break hash ([] on pre-recording deltas —
    the resolver falls back to the post-union column set)."""
    cached = _MOR_SPEC_CACHE.get(f"{path}/_data/{delta}")
    if cached is not None:
        return cached
    content = _read_small_file(spark, f"{path}/_data/{delta}/_spec")
    if content is None:
        raise ValueError(f"merge-on-read delta missing its _spec: {delta}")
    vals = {"keys": "", "versions": "", "tombstone": "", "cols": ""}
    for ln in _split_lines(content):
        k, _, v = ln.partition("=")
        vals[k] = v
    keys = [c for c in vals["keys"].split(",") if c]
    vers = [c for c in vals["versions"].split(",") if c]
    era = [c for c in vals["cols"].split(",") if c]
    out = (keys, vers, vals["tombstone"] or None, era)
    _MOR_SPEC_CACHE[f"{path}/_data/{delta}"] = out
    return out


#: backlog parquet bytes under which the delta key set is explicitly
#: broadcast (the untouched-base split then costs ZERO base shuffle);
#: above it the joins fall back to plain equi-joins and AQE decides —
#: a backlog that large means compaction is overdue anyway. Env-tunable
#: (SPARK_GRAFT_MOR_BROADCAST_MAX_BYTES) so a cluster with bigger
#: executors can raise it — and so the stress harness can force the
#: past-gate catch-up lanes at any data volume (set it to 0).
_MOR_BROADCAST_MAX_BYTES = int(
    os.environ.get("SPARK_GRAFT_MOR_BROADCAST_MAX_BYTES", str(64 << 20))
)


def _mor_backlog_bytes(spark, path: str, deltas: Sequence[str]) -> int:
    """Total on-disk bytes of a MOR backlog's delta dirs — ONE
    getContentSummary per delta (the backlog is short by design:
    ``auto_compact_deltas`` bounds it). Unknown sizes report huge, so
    the caller never broadcasts blind."""
    fs, _, jvm = _hadoop_fs(spark, f"{path}/_data")
    total = 0
    for d in deltas:
        try:
            total += fs.getContentSummary(
                jvm.org.apache.hadoop.fs.Path(f"{path}/_data/{d}")
            ).getLength()
        except Exception:
            return 1 << 62
    return total


def _mor_delta_keys(
    spark, path: str, deltas: Sequence[str], dunion: DataFrame,
    keys: Sequence[str],
) -> DataFrame:
    """The backlog's non-NULL delta keys: the build side of the
    resolver's and the CDC feed's semi/anti joins, broadcast under
    :data:`_MOR_BROADCAST_MAX_BYTES`. No ``distinct``: a semi or anti
    join returns the same rows whatever the build side's duplicates,
    so deduplicating would only cost a shuffle."""
    dkeys = dunion.where(
        reduce(Column.__and__, [F.col(k).isNotNull() for k in keys])
    ).select(*keys)
    if _mor_backlog_bytes(spark, path, deltas) <= _MOR_BROADCAST_MAX_BYTES:
        dkeys = F.broadcast(dkeys)
    return dkeys


def _mor_resolve(
    spark,
    path: str,
    base: DataFrame,
    deltas: Sequence[str],
    untouched_base: DataFrame | None = None,
    contested_base: DataFrame | None = None,
) -> DataFrame:
    """Resolve a merge-on-read state to the table it denotes,
    reproducing the equivalent sequence of :func:`merge_upsert` COW
    merges row-for-row — via COW's OWN keep/contested split, not a
    whole-table window:

    - **untouched** base rows (key matches no delta — the anti-join
      side every COW merge passes through verbatim) survive UNCHANGED,
      duplicates included, with NO shuffle: the delta key set is tiny
      (O(backlog)), so the anti-join broadcasts and the base flows
      straight through. This is the Iceberg equality-delete /
      Delta deletion-vector read shape.
    - **contested** rows (delta rows + base rows sharing their keys)
      run the last-writer-wins window merge_upsert applies at write:
      version tuple desc, then later-source-wins (base < older delta <
      newer delta — the associative form of COW's update-beats-
      incumbent tie rule), then the write-era full-row-hash tiebreak.
      One keyed window over this slice is the resolve's only shuffle.
    - with NO version columns the replace is unconditional — a base
      row NEVER wins a contested key — so the contested side needs no
      base rows at all: winners are the max-source delta rows per key.
    - NULL-key rows replay COW's join semantics (NULL never matches):
      base NULL-key rows always survive; each delta's NULL-key rows
      resolve in the same keyed window, partitioned by their source
      too, so only a batch's own rows with an equal key compete
      (versioned spec), or pass through (unversioned, matching COW's
      no-dedup-within-batch union).

    The tiebreak hash covers each row's WRITE-ERA column set (recorded
    in the delta's ``_spec``; base rows use the first delta's era —
    COW resolves base ties at the first merge that contests them, over
    that batch's columns with evolved columns read as NULL). Pre-
    recording deltas fall back to the post-union column set; a tie
    between EQUAL version tuples inside such a delta across an
    additive-evolution boundary may then resolve to a different (still
    deterministic) winner than the COW sequence — the one documented
    parity caveat.

    ``untouched_base`` (optional) substitutes a FILE-PRUNED base scan
    on the untouched branch only — for planner callers
    (:func:`async_pipes_spark.sources.stats.scan`) that prove via
    sidecars the dropped files hold no rows matching their residual
    predicate, which they re-apply row-level. Contested keys resolve
    against the FULL ``base`` (a stale delta must lose to a base
    winner the predicate-prune might have dropped) — unless
    ``contested_base`` narrows that scan too: the planner passes it
    when the KEY-column sidecars prove the dropped files hold no
    delta-touched key (:func:`~async_pipes_spark.sources.stats.
    _mor_contested_plan`), the equality-delete→data-file mapping
    Iceberg keeps in metadata, recovered here from the blooms."""
    from pyspark.sql import Window

    keys, vers, tomb, _ = _read_mor_spec(spark, path, deltas[0])
    eras: list[list[str]] = []
    for i, d in enumerate(deltas, start=1):
        ki, vi, ti, ci = _read_mor_spec(spark, path, d)
        if i > 1 and (ki, vi, ti) != (keys, vers, tomb):
            # two first-writers racing an empty backlog with DIFFERENT
            # specs can both land (each saw no backlog to validate
            # against); resolving their union under one spec would be
            # silently wrong — fail loudly instead
            raise ValueError(
                f"merge-on-read backlog mixes resolution specs at {d}; "
                "restore_manifest_table() to a retained state before the "
                "mix, then keep writers on one spec"
            )
        eras.append(ci)
    # ONE multi-path scan over the whole backlog (one schema-merge
    # inference job instead of one per delta — at depth 16 the
    # per-delta reads cost ~2 s of plan construction alone); the
    # source index each row's LWW ordering needs comes back from the
    # file path. mergeSchema NULLs evolution columns on older deltas'
    # rows, the same shape the per-delta unionByName produced.
    raw = _read_immutable_dirs(
        spark, [f"{path}/_data/{d}" for d in deltas]
    )
    if len(deltas) == 1:
        src_expr = F.lit(1)
    else:
        # delta attribution keyed on the FIRST path segment after the
        # LAST "/_data/" in each file's URI — prefix-proof: a temp
        # root (or any ancestor directory) whose path happens to
        # contain "/_data/" or a segment equal to a delta name cannot
        # misattribute a row, because the table's own _data dir is
        # always the last occurrence in the scanned file paths. (The
        # previous whole-path contains(f"/{d}/") match was correct for
        # the uuid-named dirs this layer writes but not for arbitrary
        # ancestors; pinned by test_mor_evil_ancestor_dir.)
        seg = F.split(
            F.element_at(F.split(F.input_file_name(), "/_data/"), -1), "/"
        ).getItem(0)
        src_expr = F.lit(1)
        for i, d in enumerate(deltas, start=1):
            if i == 1:
                continue
            src_expr = F.when(seg == F.lit(d), F.lit(i)).otherwise(src_expr)
    dunion = raw.withColumn("_src", src_expr)
    kept_src = untouched_base if untouched_base is not None else base
    # output column order = base columns then evolution columns, the
    # same order the previous whole-union resolver produced
    out_cols = list(base.columns) + [
        c for c in dunion.columns
        if c not in set(base.columns) and c != "_src"
    ]

    out_types = {
        **{f.name: f.dataType for f in dunion.schema.fields},
        **{f.name: f.dataType for f in base.schema.fields},
    }

    def norm(df: DataFrame) -> DataFrame:
        # align every branch to the post-union schema (evolution
        # columns NULL where a source predates them — exactly what the
        # COW merge's existing.withColumn(NULL-cast) materializes) and
        # apply the soft-tombstone normalization: stored NULL ≡ live
        # (pre-tombstone base files lack the column). ONE select — the
        # per-column withColumn chain built a plan node (and 2-3 py4j
        # round-trips) per column on every resolve branch
        have = set(df.columns)
        cols = []
        for c in out_cols:
            if tomb and c == tomb:
                # a branch missing the flag normalizes to live=False
                # exactly like the old add-NULL-then-coalesce pair
                cols.append(
                    (F.coalesce(F.col(c), F.lit(False)) if c in have
                     else F.lit(False)).alias(c)
                )
            elif c in have:
                cols.append(F.col(c))
            else:
                cols.append(F.lit(None).cast(out_types[c]).alias(c))
        if "_src" in have:
            cols.append(F.col("_src"))
        return df.select(*cols)

    has_null_key = reduce(Column.__or__, [F.col(k).isNull() for k in keys])
    dkeys = _mor_delta_keys(spark, path, deltas, dunion, keys)
    # untouched branch: ONE anti-join, ONE base scan — no window, no
    # dedup, no shuffle (broadcast build side). NULL-key base rows
    # survive through the anti-join itself (NULL matches no delta key —
    # the same join semantics that carry them through COW's keep side)
    untouched = norm(kept_src.join(dkeys, list(keys), "left_anti"))
    if not vers:
        # unconditional replace: ALL rows of the newest delta
        # containing the key survive (COW's keep ∪ updates does not
        # dedup within a batch); base rows of contested keys die, so
        # the contested side never reads the base. NULL-key rows all
        # pass through (COW's union carries them verbatim)
        newest = F.max("_src").over(Window.partitionBy(*keys))
        winners = (
            norm(dunion)
            .withColumn("_mx", newest)
            .where(has_null_key | (F.col("_src") == F.col("_mx")))
            .drop("_src", "_mx")
        )
        return untouched.unionByName(winners)
    # versioned spec: contested base rows CAN win (stale delta) — pull
    # exactly the touched slice of the full base through the window
    # (a NULL key matches nothing in a semi join, so the touched slice
    # is non-null-keyed by construction)
    cb_src = contested_base if contested_base is not None else base
    cbase = norm(
        cb_src.withColumn("_src", F.lit(0)).join(dkeys, list(keys), "left_semi")
    )
    contested = cbase.unionByName(norm(dunion))
    tiebreak = []
    if not any("map<" in t for c, t in contested.dtypes if c != "_src"):
        # write-era sorted-column struct = the same canonical hash
        # merge_upsert breaks write-time ties with — resolution must
        # pick the SAME winner a COW merge would have stored. Hash
        # only ever decides ties WITHIN one source (version tuple and
        # _src order first), so each source hashes its own era.
        fallback = sorted(out_cols)

        def era_hash(era: list[str]):
            cols_i = sorted(era) if era else fallback
            return F.hash(F.struct(*cols_i))

        tb = era_hash(eras[0])  # base ties: first contesting merge's era
        for i, era in enumerate(eras, start=1):
            tb = F.when(F.col("_src") == i, era_hash(era)).otherwise(tb)
        tiebreak = [tb.desc()]
    # ONE window resolves every contested row. A NULL-key delta row
    # resolves only among its own batch's rows with the same key
    # (NULL never matches across a COW merge): its source joins the
    # partition key, so it never shares a partition with a non-null
    # key, and inside its partition the _src order term is constant
    w = Window.partitionBy(*keys, F.when(has_null_key, F.col("_src"))).orderBy(
        *[F.col(c).desc() for c in vers], F.col("_src").desc(), *tiebreak
    )
    resolved = (
        contested.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_src")
    )
    return untouched.unionByName(resolved)


def mor_upsert(
    spark,
    path: str,
    updates: DataFrame,
    key_cols: Sequence[str],
    version_cols: Sequence[str] | None = None,
    tombstone_col: str | None = None,
    allow_schema_evolution: bool = False,
    occ_retries: int = 5,
    auto_compact_deltas: int | None = None,
    expected_seq: int | None = None,
) -> None:
    """MERGE-ON-READ upsert into a manifest table (either flavor): the
    write is O(update rows) — one immutable delta dir plus one pointer
    commit — however large the table, instead of copy-on-write's
    O(touched partitions) rewrite (:func:`merge_upsert`). The deferred
    cost lands at read: readers resolve base ∪ deltas through one
    last-writer-wins window (:func:`_mor_resolve`), so the table reads
    exactly what the equivalent COW merge sequence would have stored.
    Bound the backlog with ``auto_compact_deltas`` (fold the deltas
    into a fresh base via :func:`compact_small_files` once the live
    state carries that many) or schedule compaction explicitly — at
    100 TB this is Delta/Iceberg's deletion-file trade: trickle writes
    stop rewriting partitions, OPTIMIZE restores scan speed and data
    skipping (stats/bloom planners skip MOR-backlogged states).

    Semantics match :func:`merge_upsert` with ``version_cols`` /
    soft tombstones: LWW on the version tuple, later batch wins ties,
    deletes are stored tombstone rows (``retain_tombstones=False``'s
    hard-delete mode is COW-only — hard deletes don't commute with a
    read-time-resolved log; purge after compaction instead). All
    deltas of one table must share (key_cols, version_cols,
    tombstone_col) — validated against the outstanding backlog's spec.

    CONCURRENCY: appending a delta does not depend on the base state,
    so a lost commit race is retried blind (re-read live state, append
    to it) — concurrent MOR writers all land, no
    :class:`ConcurrentCommitError` under normal contention, and mixed
    COW/MOR writers still serialize through the same commit log.
    ``expected_seq`` opts a READ-MODIFY-WRITE caller (the IVM
    refreshers: their delta folds on top of the table state they read)
    back into strict OCC — a pointer that moved since that read raises
    :class:`ConcurrentCommitError` instead of blind-appending a delta
    computed against a stale base."""
    if not key_cols:
        raise ValueError("key_cols is required (resolution is per key)")
    if tombstone_col:
        if not version_cols:
            raise ValueError("tombstone_col requires version_cols")
        if tombstone_col not in updates.columns:
            raise ValueError(f"tombstone_col not in updates: {tombstone_col}")
    version_cols = list(version_cols or [])
    if version_cols:
        bad = [c for c in version_cols if c not in updates.columns]
        if bad:
            raise ValueError(f"version_cols not in schema: {bad}")

    import uuid

    pinfo = _pmanifest_read(spark, path)
    states, _, _ = _manifest_read(spark, path)
    if pinfo is not None:
        live = pinfo[0][0] if pinfo[0] else None
    else:
        live = states[0] if states else None
    if live is None:
        raise ValueError(
            f"not a manifest table: {path} — create it with "
            "write_manifest_table() or write_partitioned_manifest_table() "
            "first (the delta log needs a base state to attach to)"
        )
    # spec must match the outstanding backlog's (readers resolve the
    # whole backlog with ONE spec)
    backlog = _state_deltas(live)
    if backlog:
        k0, v0, t0, _ = _read_mor_spec(spark, path, backlog[0])
        if (list(key_cols), version_cols, tombstone_col) != (k0, v0, t0):
            raise ValueError(
                f"merge-on-read spec mismatch: table resolves by keys={k0} "
                f"versions={v0} tombstone={t0}; got keys={list(key_cols)} "
                f"versions={version_cols} tombstone={tombstone_col}"
            )
    # schema contract: same columns as the table, modulo the tombstone
    # bootstrap (the flag may be new; resolution coalesces it).
    # ``allow_schema_evolution`` admits ADDITIVE change exactly like
    # the COW merge: columns new in ``updates`` simply ride the delta —
    # the resolved read's unionByName(allowMissingColumns) gives stored
    # rows NULL there, the same table the COW evolution stores. An
    # update batch MISSING an existing column still errors (silently
    # nulling replaced rows' payload is a bug, not evolution).
    # The column set comes from the BASE schema ∪ the backlog's
    # recorded write-era columns — NOT a resolved read, whose plan
    # construction (base + backlog scans + joins) this hot path would
    # otherwise pay per micro-batch just to ask for .columns
    existing_cols: set[str] | None = None
    if pinfo is None:
        base_cols = set(
            _read_immutable_dir(
                spark, f"{path}/_data/{_state_base(live)}"
            ).schema.names
        )
        existing_cols = set(base_cols)
        for d in backlog:
            _bk, _bv, _bt, era = _read_mor_spec(spark, path, d)
            if not era:  # pre-recording delta: fall back to the read
                existing_cols = None
                break
            existing_cols |= set(era)
    if existing_cols is None:
        existing_cols = set(
            (read_partitioned_manifest(spark, path) if pinfo is not None
             else read_manifest_table(spark, path)).columns
        )
    flag = {tombstone_col} if tombstone_col else set()
    if allow_schema_evolution:
        missing = (existing_cols - flag) - set(updates.columns)
        if missing:
            raise ValueError(
                f"update schema missing existing columns: {sorted(missing)}"
            )
    else:
        mismatch = (set(updates.columns) - flag) ^ (existing_cols - flag)
        if mismatch:
            raise ValueError(
                f"update schema mismatch on columns: {sorted(mismatch)}"
            )

    delta = f"x_{uuid.uuid4().hex[:12]}"
    out = updates
    if tombstone_col:
        out = out.withColumn(
            tombstone_col, F.coalesce(F.col(tombstone_col), F.lit(False))
        )
    out.write.mode("error").parquet(f"{path}/_data/{delta}")
    _record_dir_schema(f"{path}/_data/{delta}", out)
    _write_mor_spec(
        spark, path, delta, key_cols, version_cols, tombstone_col,
        era_cols=out.columns,
    )
    fs, _, jvm = _hadoop_fs(spark, f"{path}/{_MANIFEST}")

    def abandon_cleanup() -> None:
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{path}/_data/{delta}"), True)

    if pinfo is not None:
        _pmanifest_append_delta(spark, path, delta, abandon_cleanup,
                                expected_seq=expected_seq)
    else:
        def make_retained(prev_states: list[str], prev_keep: int):
            if not prev_states:
                raise ValueError(f"manifest table lost its states: {path}")
            return (
                [f"{prev_states[0]}+{delta}"] + prev_states
            )[:prev_keep], prev_keep

        _flat_pointer_commit(spark, path, make_retained,
                             expected_seq=expected_seq,
                             abandon_cleanup=abandon_cleanup)
    if auto_compact_deltas is not None:
        if len(mor_deltas(spark, path)) >= auto_compact_deltas:
            compact_small_files(spark, path, occ_retries=occ_retries)


_PART_SAFE = set("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789._-")


def _partition_subdir(partition_by, row) -> str:
    """`col=value/...` subdir for one partition tuple, Spark's naming:
    NULL and EMPTY STRING → __HIVE_DEFAULT_PARTITION__ (Spark writes
    both there); booleans → lowercase true/false (str(True) is 'True'
    — a 'p=True' entry would match no mapped subdir, so a partition
    the rewrite emptied would keep its stale mapping); other values
    needing Spark's path-escaping (chars outside [A-Za-z0-9._-]) are
    rejected rather than guessed at."""
    parts = []
    for c in partition_by:
        v = row[c]
        if v is None or v == "":
            s = "__HIVE_DEFAULT_PARTITION__"
        elif isinstance(v, bool):
            s = "true" if v else "false"
        else:
            s = str(v)
            if not set(s) <= _PART_SAFE:
                raise ValueError(
                    f"partition value {s!r} needs path escaping; partitioned "
                    "manifest rewrites support plain alphanumeric values"
                )
        parts.append(f"{c}={s}")
    return "/".join(parts)


def _prune_to_partitions(df, rows, partition_by) -> DataFrame:
    """Restrict ``df`` to the partitions named by collected ``rows`` —
    the ONE definition of partition pruning shared by merge_upsert and
    purge_tombstones (so the NULL handling and the 64 threshold can
    never diverge). Up to 64 partitions: a null-safe literal OR-chain
    (``isin()`` would evaluate NULL for a NULL partition value and
    silently drop that partition's rows), statically pruning the scan.
    Beyond: the driver-built expression tree is linear in partition
    count, so it switches to a broadcast null-safe semi join (O(1)
    plan size; dynamic pruning where available)."""
    if len(rows) <= 64:
        pred = reduce(
            Column.__or__,
            [
                reduce(
                    Column.__and__,
                    [F.col(c).eqNullSafe(F.lit(r[c])) for c in partition_by],
                )
                for r in rows
            ],
        )
        return df.filter(pred)
    pk = df.sparkSession.createDataFrame(
        [tuple(r[c] for c in partition_by) for r in rows],
        df.select(*partition_by).schema,
    ).toDF(*[f"_pk_{c}" for c in partition_by])
    cond = reduce(
        Column.__and__,
        [F.col(c).eqNullSafe(F.col(f"_pk_{c}")) for c in partition_by],
    )
    return df.join(F.broadcast(pk), cond, "left_semi")


# ---- partitioned manifest tables ------------------------------------
#
# The commit story for PARTITIONED lakes (the flat manifest's commit
# unit is the whole table; here it is the partition). Layout:
#
#   path/_MANIFEST            "#partitioned", generations live-first,
#                             "#keep=N", "#cols=p,q"
#   path/_gens/g_<uuid>       immutable snapshot: "subdir<TAB>version"
#                             lines mapping every LIVE partition to the
#                             version dir holding its current data
#   path/_data/v_<uuid>/...   immutable version dirs, Hive-partitioned
#                             inside (col=val subdirs)
#
# A merge writes ONLY its touched partitions into a fresh version dir,
# then commits a new generation whose mapping points touched partitions
# at the new version and leaves every other partition's mapping alone —
# one small pointer replace publishes the whole commit, crash-safe for
# the same reason the flat manifest is (immutable dirs; a failure
# before the pointer replace leaves orphans, never a broken table).
# Concurrent writers serialize through the SAME _commits/ log as the
# flat flavor (marker bodies carry the full "#partitioned" pointer).


def _pmanifest_read(spark, path: str):
    """(generations live-first, keep, partition_cols, commit seq) for a
    partitioned manifest table, or None if ``path`` is not one."""
    lines = _manifest_lines(spark, path)
    if not lines or lines[0] != _PMARK:
        return None
    gens = [ln for ln in lines[1:] if not ln.startswith("#")]
    keep, cols = 2, []
    for ln in lines:
        if ln.startswith("#keep="):
            try:
                keep = max(1, int(ln[len("#keep=") :]))
            except ValueError:
                pass
        elif ln.startswith("#cols="):
            cols = [c for c in ln[len("#cols=") :].split(",") if c]
    return gens, keep, cols, _parse_seq(lines)


def _pmanifest_mapping(spark, path: str, gen: str) -> dict[str, str]:
    """The {partition_subdir: version} mapping of one generation."""
    content = _read_small_file(spark, f"{path}/_gens/{gen}")
    if content is None:
        raise ValueError(f"generation file missing: {path}/_gens/{gen}")
    mapping: dict[str, str] = {}
    for ln in content.splitlines():
        ln = ln.strip()
        if not ln:
            continue
        sd, _, v = ln.rpartition("\t")
        mapping[sd] = v
    return mapping


def _pmanifest_publish(
    spark,
    path: str,
    make_retained,
    expected_seq: int | None = None,
    abandon_cleanup=None,
) -> None:
    """The ONE claim→publish→GC sequence for partitioned-manifest
    pointer commits — the pmanifest twin of :func:`_flat_pointer_commit`,
    shared by :func:`_pmanifest_commit` (new generation),
    :func:`_pmanifest_append_delta` (merge-on-read append), and the
    pmanifest RESTORE (line re-ordering). ``make_retained(states, keep,
    cols, seq) -> (retained, keep, cols) | None`` builds each attempt's
    retained STATE list (composite ``g_x+x_d`` lines allowed) from
    fresh pointer state; None = no-op. GC is REFCOUNTED across retained
    states: a gen file / version dir / delta dir is deleted only when
    no retained state references it (merge-on-read states share their
    base generation with the state they extended)."""
    import time

    fs, _, jvm = _hadoop_fs(spark, f"{path}/{_MANIFEST}")

    def _abandon(reason: str) -> None:
        if abandon_cleanup is not None:
            abandon_cleanup()
        raise ConcurrentCommitError(f"{path}: {reason}")

    for attempt in range(64):
        prev = _pmanifest_read(spark, path)
        gens, stored_keep, stored_cols, seq = (
            prev if prev else ([], 2, [], 0)
        )
        if expected_seq is not None and seq != expected_seq:
            _abandon(
                f"base read at commit seq {expected_seq}, table now at {seq}"
            )
        made = make_retained(gens, stored_keep, stored_cols, seq)
        if made is None:
            return
        retained, keep, cols = made
        body = (
            _PMARK
            + "\n"
            + "\n".join(retained)
            + f"\n#keep={keep}\n#cols={','.join(cols)}\n#seq={seq + 1}\n"
        )
        if _claim_commit(spark, path, seq + 1, body):
            if _raw_pointer_seq(spark, path) > seq:
                fs.delete(
                    jvm.org.apache.hadoop.fs.Path(_marker_path(path, seq + 1)),
                    False,
                )
                _abandon(f"stale commit slot {seq + 1} (table moved past it)")
            break
        if expected_seq is not None:
            _abandon(f"lost commit slot {seq + 1} to a concurrent writer")
        time.sleep(min(0.05 * (attempt + 1), 1.0))
    else:
        _abandon("could not claim a commit slot after 64 attempts")
    _publish_pointer(spark, path, body, seq + 1)
    # lineage-only GC, refcounted over retained states: dropped states'
    # gen files, version dirs, and merge-on-read delta dirs are deleted
    # only when NO retained state still references them
    retained_set = set(retained)
    dropped = [s for s in gens if s not in retained_set]
    if not dropped:
        return
    retained_bases = {_state_base(s) for s in retained}
    retained_deltas: set[str] = set()
    for s in retained:
        retained_deltas.update(_state_deltas(s))
    still_referenced = set()
    for b in retained_bases:
        still_referenced.update(_pmanifest_mapping(spark, path, b).values())
    dropped_bases = {_state_base(s) for s in dropped} - retained_bases
    doomed_versions = set()
    for b in dropped_bases:
        doomed_versions.update(_pmanifest_mapping(spark, path, b).values())
    for v in doomed_versions - still_referenced:
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{path}/_data/{v}"), True)
    for s in dropped:
        for d in _state_deltas(s):
            if d not in retained_deltas:
                fs.delete(jvm.org.apache.hadoop.fs.Path(f"{path}/_data/{d}"), True)
    for b in dropped_bases:
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{path}/_gens/{b}"), False)


def _pmanifest_commit(
    spark,
    path: str,
    partition_by: Sequence[str],
    new_mapping: dict[str, str],
    keep_versions: int | None = None,
    expected_seq: int | None = None,
) -> None:
    """Publish ``new_mapping`` as the live generation: write an
    immutable gen file, claim a commit-log slot (the SAME optimistic-
    concurrency protocol as :func:`_manifest_commit` — ``expected_seq``
    from a read-modify-write caller turns a lost race into
    :class:`ConcurrentCommitError`, never a lost update), publish the
    pointer, then GC the states this commit drops from its retained
    window (refcounted — see :func:`_pmanifest_publish`; crashed
    commits' orphans are left for :func:`vacuum_manifest`). The new
    live state carries NO merge-on-read deltas: a full-mapping commit
    (write/merge/compact/OPTIMIZE) is by construction a resolution of
    whatever backlog the previous state carried."""
    import uuid

    gen = f"g_{uuid.uuid4().hex[:12]}"
    gen_written = False
    fs, _, jvm = _hadoop_fs(spark, f"{path}/{_MANIFEST}")

    def abandon_cleanup() -> None:
        if gen_written:
            fs.delete(jvm.org.apache.hadoop.fs.Path(f"{path}/_gens/{gen}"), False)

    def make_retained(gens, stored_keep, stored_cols, seq):
        nonlocal gen_written
        if stored_cols and list(partition_by) != stored_cols:
            raise ValueError(
                f"partition_by {list(partition_by)} != table's partition "
                f"columns {stored_cols}"
            )
        keep = stored_keep if keep_versions is None else max(1, keep_versions)
        if not gen_written:
            gen_body = "".join(
                f"{sd}\t{v}\n" for sd, v in sorted(new_mapping.items())
            )
            _replace_pointer(spark, f"{path}/_gens/{gen}", gen_body)
            gen_written = True
        return ([gen] + gens)[:keep], keep, list(partition_by)

    _pmanifest_publish(
        spark, path, make_retained, expected_seq, abandon_cleanup
    )


def _pmanifest_append_delta(
    spark, path: str, delta: str, abandon_cleanup,
    expected_seq: int | None = None,
) -> None:
    """Append one merge-on-read delta dir to the live partitioned
    state: the new line is ``<live>+<delta>`` — no gen file is written,
    no partition is rewritten; the generation mapping stays the live
    base's. Blind-retried on commit races (the delta's content does not
    depend on the base state) unless ``expected_seq`` opts into strict
    OCC (read-modify-write callers — see :func:`mor_upsert`)."""

    def make_retained(gens, keep, cols, seq):
        if not gens:
            raise ValueError(f"partitioned manifest lost its states: {path}")
        return ([f"{gens[0]}+{delta}"] + gens)[:keep], keep, cols

    _pmanifest_publish(spark, path, make_retained, expected_seq,
                       abandon_cleanup=abandon_cleanup)


def _list_partition_subdirs(spark, version_path: str, depth: int) -> list[str]:
    """The `col=val/...` partition subdirs actually written under one
    version dir (the authoritative post-write listing — a recomputation
    of the DataFrame could differ)."""
    fs, root, jvm = _hadoop_fs(spark, version_path)
    out: list[str] = []

    def walk(p, d: int, prefix: str) -> None:
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if not st.isDirectory() or "=" not in name:
                continue
            sub = f"{prefix}{name}"
            if d == depth:
                out.append(sub)
            else:
                walk(st.getPath(), d + 1, sub + "/")

    walk(root, 1, "")
    return out


def write_partitioned_manifest_table(
    spark,
    df: DataFrame,
    path: str,
    partition_by: Sequence[str],
    keep_versions: int | None = None,
) -> None:
    """Create (or fully rewrite) a PARTITIONED manifest table — the
    object-store-safe commit for partitioned lakes (a commit never
    touches live data). :func:`merge_upsert` / :func:`purge_tombstones` /
    :func:`compact_small_files` detect the pointer and commit new
    generations through it, rewriting ONLY touched partitions per
    merge; read via :func:`read_partitioned_manifest`. Concurrent
    writers serialize through the same commit log as the flat flavor.
    ``keep_versions`` = generation retention for time travel
    (stored; default 2)."""
    import uuid

    if not partition_by:
        raise ValueError("partition_by is required (else use write_manifest_table)")
    version = f"v_{uuid.uuid4().hex[:12]}"
    vpath = f"{path}/_data/{version}"
    df.write.mode("error").partitionBy(*partition_by).parquet(vpath)
    subdirs = _list_partition_subdirs(spark, vpath, len(partition_by))
    _pmanifest_commit(
        spark, path, partition_by, {sd: version for sd in subdirs}, keep_versions
    )


def partitioned_manifest_generations(spark, path: str) -> list[str]:
    """The retained generations, live first."""
    info = _pmanifest_read(spark, path)
    if info is None:
        raise ValueError(f"not a partitioned manifest table: {path}")
    return info[0]


def read_partitioned_manifest(
    spark, path: str, generation: str | None = None
) -> DataFrame:
    """Read a partitioned manifest table: the live generation by
    default, or any retained generation (time travel). Each generation
    maps every live partition to the version dir holding its data, so
    the read is a union of per-version scans restricted to exactly the
    mapped partition dirs — partition columns come from the dir names
    (``basePath``), stale partitions in older version dirs are never
    touched, and mixed file schemas across versions merge (additive
    evolution discipline, as everywhere in the CDC path)."""
    info = _pmanifest_read(spark, path)
    if info is None:
        raise ValueError(f"not a partitioned manifest table: {path}")
    gens = info[0]
    if generation is None:
        generation = gens[0]
    elif generation not in gens:
        raise ValueError(
            f"generation {generation!r} not retained (have {gens}); "
            "manifest GC keeps the newest keep_versions generations only"
        )
    mapping = _pmanifest_mapping(spark, path, _state_base(generation))
    if not mapping:
        raise ValueError(
            f"generation {generation!r} of {path} has no live partitions "
            "(schema unknown for an empty table)"
        )
    df = _read_pmapping(spark, path, mapping)
    deltas = _state_deltas(generation)
    if deltas:
        # merge-on-read state: the generation mapping is the BASE;
        # delta dirs hold whole rows (partition columns as ordinary
        # columns) and resolve through the shared LWW window
        df = _mor_resolve(spark, path, df, deltas)
    return df


def _read_pmapping(spark, path: str, mapping: dict[str, str]) -> DataFrame:
    """Union of per-version scans over EXACTLY the partition subdirs in
    ``mapping`` — partition columns from dir names (``basePath``),
    mixed file schemas merged. The one mapping→DataFrame construction,
    shared by the full generation read and the partition-pruned scan
    planner."""
    by_version: dict[str, list[str]] = {}
    for sd, v in mapping.items():
        by_version.setdefault(v, []).append(sd)
    parts = []
    for v, sds in sorted(by_version.items()):
        base = f"{path}/_data/{v}"
        parts.append(
            spark.read.option("mergeSchema", "true")
            .option("basePath", base)
            .parquet(*[f"{base}/{sd}" for sd in sorted(sds)])
        )
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p, allowMissingColumns=True)
    return df


def read_table(spark, path: str) -> DataFrame:
    """THE universal read for any engine table path — what a user (and
    the scan planner's fallback) should call without knowing the
    table's commit flavor: a partitioned manifest reads through its
    live generation mapping, a flat manifest through its pointer (any
    merge-on-read backlog resolved), anything else as a plain parquet
    directory."""
    if _pmanifest_read(spark, path) is not None:
        return read_partitioned_manifest(spark, path)
    if manifest_version(spark, path) is not None:
        return read_manifest_table(spark, path)
    return spark.read.parquet(path)


def restore_manifest_table(
    spark, path: str, to: str, occ_retries: int = 5
) -> None:
    """RESTORE — rollback as a new commit, POINTER-ONLY (the Delta
    RESTORE shape): re-publish a retained older version (flat
    manifest: a ``v_*`` from :func:`manifest_versions`) or generation
    (partitioned: a ``g_*`` from
    :func:`partitioned_manifest_generations`) as the new live state.
    No data is copied or rewritten — version dirs are immutable, so
    making an old one live again costs one commit-log claim + pointer
    replace however large the table (the production answer to a bad
    merge landing at 100 TB). The restore is itself a normal commit:
    it serializes through the commit log against concurrent writers,
    inherits the table's retention, and keeps the rolled-back state in
    the retained window (it becomes 'previous', so a restore is
    time-travelable and restorable-back). Restoring the live state is
    a no-op. Only RETAINED states can be restored — anything older was
    GC'd with its data."""
    if _pmanifest_read(spark, path) is not None:
        # pointer-only re-ordering, exactly like the flat flavor: the
        # restored STATE line (generation + any merge-on-read deltas it
        # carried) becomes live again; no gen file or data is written,
        # and the refcounting GC keeps everything the retained states
        # reference. Commit races are blind-retried inside the shared
        # publisher (re-reading fresh state each attempt).
        def make_retained(gens, keep, cols, seq):
            if to not in gens:
                raise ValueError(
                    f"generation {to!r} not retained (have {gens}); only "
                    "retained generations can be restored"
                )
            if gens[0] == to:
                return None  # already live
            return ([to] + [g for g in gens if g != to])[:keep], keep, cols

        _pmanifest_publish(spark, path, make_retained)
        return

    def make_retained(versions: list[str], keep: int):
        if not versions:
            raise ValueError(f"not a manifest table (no {_MANIFEST}): {path}")
        if to not in versions:
            raise ValueError(
                f"version {to!r} not retained (have {versions}); only "
                "retained versions can be restored"
            )
        if versions[0] == to:
            return None  # already live — nothing to commit
        # a restore re-orders the retained list without growing it, so
        # the shared GC drops versions only when the stored list
        # already exceeded keep
        return ([to] + [v for v in versions if v != to])[:keep], keep

    _flat_pointer_commit(spark, path, make_retained)


def _live_manifest(spark, path: str) -> tuple[str, list[str] | None, int]:
    """(live state line, partition columns — None for a FLAT manifest —,
    commit seq) of the manifest table a mutation verb rewrites. Every
    read-modify-write verb commits through the commit log, so a plain
    parquet directory (no log: no OCC, no time travel, no atomic
    replace off the local filesystem) is refused here, before anything
    is read or written; it stays readable through :func:`read_table`."""
    pinfo = _pmanifest_read(spark, path)
    if pinfo is not None:
        gens, _, cols, seq = pinfo
        return gens[0], cols, seq
    states, _, seq = _manifest_read(spark, path)
    if not states:
        raise ValueError(
            f"not a manifest table: {path} — create it with "
            "write_manifest_table() or write_partitioned_manifest_table() "
            "first (a plain parquet directory is read-only to the "
            "mutation verbs)"
        )
    return states[0], None, seq


def _check_partition_by(
    partition_by: Sequence[str] | None, cols: list[str] | None
) -> None:
    """``partition_by`` must name a partitioned manifest's own columns,
    and must be absent on a flat manifest (its commit unit is the whole
    version)."""
    if cols is None:
        if partition_by:
            raise ValueError(
                "flat manifest tables are unpartitioned (their commit unit "
                "is the whole version); partitioned lakes use "
                "write_partitioned_manifest_table()"
            )
        return
    if not partition_by:
        raise ValueError(
            f"partitioned manifest table: pass partition_by={cols} "
            "(its commit unit is the partition)"
        )
    if cols and list(partition_by) != cols:
        raise ValueError(
            f"partition_by {list(partition_by)} != table's partition "
            f"columns {cols}"
        )


def _pmanifest_rewrite(
    spark,
    path: str,
    partition_by: Sequence[str],
    live: str,
    rows: DataFrame,
    touched,
    expected_seq: int,
) -> None:
    """Commit ``rows`` as the new contents of the ``touched`` partitions
    (collected partition-value rows) of a partitioned manifest table:
    they land in a fresh immutable version dir, and the new generation
    repoints every partition the write produced at it. A touched
    partition that got no rows (every row moved away or was purged)
    leaves the mapping; every untouched partition keeps its mapped
    version. One pointer claim at ``expected_seq`` commits it all —
    a lost race raises :class:`ConcurrentCommitError` and leaves the
    version dir for :func:`vacuum_manifest`."""
    import uuid

    # every touched subdir must be expressible BEFORE the write: an
    # unescapable value fails the verb up front, not after the rewrite
    touched_sds = {_partition_subdir(partition_by, r) for r in touched}
    version = f"v_{uuid.uuid4().hex[:12]}"
    vpath = f"{path}/_data/{version}"
    rows.write.mode("error").partitionBy(*partition_by).parquet(vpath)
    new_mapping = {
        sd: v
        for sd, v in _pmanifest_mapping(spark, path, live).items()
        if sd not in touched_sds
    }
    for sd in _list_partition_subdirs(spark, vpath, len(partition_by)):
        new_mapping[sd] = version
    _pmanifest_commit(
        spark, path, partition_by, new_mapping, expected_seq=expected_seq
    )


def merge_upsert(
    spark,
    target_path: str,
    updates: DataFrame,
    key_cols: Sequence[str],
    partition_by: Sequence[str] | None = None,
    keys_partition_stable: bool = False,
    version_cols: Sequence[str] | None = None,
    tombstone_col: str | None = None,
    retain_tombstones: bool = True,
    allow_schema_evolution: bool = False,
    occ_retries: int = 5,
) -> None:
    """Keyed upsert into a manifest table (MERGE semantics): rows in
    ``updates`` replace target rows with the same key; unmatched target
    rows survive; new keys append.

    The merge is SAFE UNDER CONCURRENT WRITERS: the commit carries the
    sequence number the base was read at, a racing commit turns into
    :class:`ConcurrentCommitError` instead of a lost update, and the
    merge automatically re-reads the new base and re-applies — up to
    ``occ_retries`` times before letting the error escape.

    ``tombstone_col`` (requires ``version_cols``) completes the CDC
    triad with DELETES: an update row whose tombstone flag is true
    deletes the matching key — but only if it WINS the version
    resolution, so a late tombstone cannot erase data newer than it,
    and a tombstone older than a racing upsert loses symmetrically
    (the delete participates in exactly the same last-writer-wins
    window as any other change). NULL flags count as live.

    With ``retain_tombstones=True`` (the default) a winning delete is
    stored as a SOFT tombstone row — the flag becomes a real column of
    the table and readers filter it with ``coalesce(flag, false)``:
    stored NULL ≡ live, because a partitioned table's UNTOUCHED
    partitions keep their pre-tombstone file schema (only rewritten
    partitions gain the column). Readers of such a table MUST read
    with ``mergeSchema=true`` or a declared schema — Spark's default
    single-footer inference can pick a pre-tombstone file and drop the
    flag column entirely; :func:`read_table` does so. Retention is what makes deletes
    COMMUTE across batches: a hard delete forgets its version, so a
    stale upsert replayed after it would silently resurrect the key
    (this failure was caught by the permutation test, not theorized).
    ``retain_tombstones=False`` removes the row outright — smaller
    table, but delete/upsert convergence then holds only for changes
    already stored, not against later-arriving stale batches; use it
    only when the source is in-order or replay-free, and purge
    retained tombstones past your out-of-orderness horizon with a
    periodic compaction instead.

    ``version_cols`` turns the unconditional replace into LAST-WRITER-
    WINS CDC resolution: for a matched key, the row with the GREATER
    version tuple survives — whether it came from the target or the
    updates (ties prefer the update; multiple update rows per key
    self-resolve the same way; version NULLs sort last). This makes
    the merge COMMUTATIVE over batch order: out-of-order micro-batches
    (a streaming foreachBatch sink, a backfill racing live traffic)
    converge to the same final table as in-order delivery — the
    property an unconditional upsert cannot give. Cost: contested keys
    run through one window (rank-1 per key) instead of a plain union;
    uncontested target rows still move via the anti-join only.

    Commit protocol — one commit log, two layouts:

    - **Flat manifest** (no ``partition_by``): copy-on-write —
      surviving target rows (left_anti on the key) union the updates,
      written to a fresh immutable ``_data/v_*`` version and published
      by one commit-log claim at the base's seq.
    - **Partitioned manifest** (``partition_by`` = the table's
      columns): only the partitions that actually contain an update
      key are read, merged, and rewritten into a fresh version —
      including the partition a moved key is LEAVING (an update may
      change a key's partition value; the old partition must rewrite
      too or the stale row survives as a duplicate). The new
      generation repoints them; a partition the merge emptied leaves
      the mapping, and every other partition keeps its mapped version
      (at 100 TB the difference between rewriting a few GB and
      rewriting the lake).

    Either way a failure mid-write leaves an orphan version dir, never
    a broken table. A plain parquet directory raises ``ValueError``:
    seed it with :func:`write_manifest_table` /
    :func:`write_partitioned_manifest_table` first.

    ``allow_schema_evolution`` admits ADDITIVE schema change: columns
    present in ``updates`` but not in the table are added (NULL on all
    stored rows). It is strictly additive — an update batch MISSING an
    existing column still errors, because silently nulling the payload
    of every replaced row is a bug, not evolution. An evolved
    partitioned table carries mixed file schemas until every partition
    is rewritten; the engine reads it with ``mergeSchema`` (as must
    external readers — or declare the schema).

    Scale notes: the anti-join shuffles on the key unless the update
    set is broadcastable (it usually is — updates are small relative to
    the lake; AQE broadcasts under the threshold automatically).
    For trickle updates where even the touched-partition rewrite is the
    dominant cost, :func:`mor_upsert` commits the same change as an
    O(update rows) merge-on-read delta instead (read-time resolution,
    folded by compaction).
    """
    if tombstone_col:
        if not version_cols:
            # without versions, "does the delete or the racing upsert
            # win" is batch-order-dependent — exactly the ambiguity the
            # versioned merge exists to remove
            raise ValueError("tombstone_col requires version_cols")
        if tombstone_col not in updates.columns:
            raise ValueError(f"tombstone_col not in updates: {tombstone_col}")
    live, cols, base_seq = _live_manifest(spark, target_path)
    # the backlog check reads the live state the merge ALREADY read — a
    # standalone mor_deltas() probe here costs ~0.4 s of py4j
    # small-file round trips per micro-batch merge (measured via the
    # s22 A/B ratio)
    if _state_deltas(live):
        raise ValueError(
            f"{target_path} carries outstanding merge-on-read deltas — "
            "a copy-on-write merge would rewrite partitions WITHOUT "
            "the backlog's rows and lose them. Either continue with "
            "mor_upsert() or fold the backlog first "
            "(compact_small_files / optimize_zorder)"
        )
    _check_partition_by(partition_by, cols)
    # both reads merge file schemas (tombstone bootstrap and additive
    # evolution rewrite only touched partitions / new versions): a
    # single-footer inference could pick an old file and drop the
    # newer columns — for tombstones that resurrected deleted keys
    existing = (
        read_partitioned_manifest(spark, target_path)
        if partition_by
        else _read_immutable_dir(spark, f"{target_path}/_data/{live}")
    )
    flag = {tombstone_col} if tombstone_col else set()
    added = (set(updates.columns) - flag) - set(existing.columns)
    if allow_schema_evolution and added:
        # ADDITIVE evolution only: new update columns join the table as
        # NULL on all stored rows; updates missing an existing column
        # still error (silently nulling replaced rows' payload is a
        # bug, not evolution)
        upd_schema = dict(zip(updates.schema.names, updates.schema.fields))
        for c in sorted(added):
            existing = existing.withColumn(
                c, F.lit(None).cast(upd_schema[c].dataType)
            )
    missing = (set(updates.columns) - flag) ^ (set(existing.columns) - flag)
    if missing:
        raise ValueError(f"update schema mismatch on columns: {sorted(missing)}")
    if tombstone_col and retain_tombstones and tombstone_col not in existing.columns:
        # first use on a pre-tombstone table: the flag becomes a real
        # column; every stored row is live
        existing = existing.withColumn(tombstone_col, F.lit(False))
    if version_cols:
        bad = [c for c in version_cols if c not in updates.columns]
        if bad:
            raise ValueError(f"version_cols not in schema: {bad}")

    up_keys = updates.select(*key_cols).distinct()

    def _merge(existing_subset: DataFrame) -> DataFrame:
        """Resolve updates against a target subset: plain replace, or
        last-writer-wins per key when version_cols is set."""
        keep = existing_subset.join(up_keys, list(key_cols), "left_anti")
        if not version_cols:
            return keep.unionByName(updates)
        from pyspark.sql import Window

        matched = existing_subset.join(up_keys, list(key_cols), "left_semi")
        if tombstone_col and tombstone_col not in matched.columns:
            # flag column absent from the stored table (hard mode, or
            # never bootstrapped): target rows compete as live. When
            # the table DOES carry the column, stored flags are
            # preserved — overwriting them to live would resurrect
            # stored soft tombstones
            matched = matched.withColumn(tombstone_col, F.lit(False))
        contested = matched.withColumn("_upd", F.lit(0)).unionByName(
            updates.withColumn("_upd", F.lit(1))
        )
        # full-row-hash tiebreak (the group_sample idiom): two update
        # rows with EQUAL version tuples but different payloads must
        # resolve the same way on every run/partitioning, or a replay
        # after a crash could produce a different table; only fully
        # identical rows remain interchangeable. Skipped when a map
        # column makes the row unhashable. The struct's fields are in
        # SORTED column-name order — canonical, so the merge-on-read
        # resolver (:func:`_mor_resolve`) reproduces the same winner
        # even though its read-side column order differs (partitioned
        # reads put partition columns last).
        tiebreak = []
        if not any("map<" in t for _, t in updates.dtypes):
            tiebreak = [F.hash(F.struct(*sorted(updates.columns))).desc()]
        w = Window.partitionBy(*key_cols).orderBy(
            *[F.col(c).desc() for c in version_cols],
            F.col("_upd").desc(),
            *tiebreak,
        )
        winners = (
            contested.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_upd")
        )
        if tombstone_col and retain_tombstones:
            # soft delete: the winning row is stored, flag normalized
            # (NULL = live); readers filter — and the tombstone keeps
            # its version so later stale upserts still lose
            winners = winners.withColumn(
                tombstone_col, F.coalesce(F.col(tombstone_col), F.lit(False))
            )
        elif tombstone_col:
            # hard delete: the key vanishes (NULL flag = live). If the
            # stored table already carries the flag column (built in
            # soft mode earlier), the output keeps that column so the
            # union with the uncontested keep-side stays resolvable —
            # stored soft tombstones outside this batch's keys remain
            # until purge_tombstones
            winners = winners.filter(
                ~F.coalesce(F.col(tombstone_col), F.lit(False))
            )
            if tombstone_col in existing.columns:
                winners = winners.withColumn(
                    tombstone_col,
                    F.coalesce(F.col(tombstone_col), F.lit(False)),
                )
            else:
                winners = winners.drop(tombstone_col)
        return keep.unionByName(winners)

    try:
        if not partition_by:
            _manifest_commit(
                spark, target_path, _merge(existing), expected_seq=base_seq
            )
            return
        # Touched partitions = partitions the UPDATES land in, PLUS the
        # partitions currently holding any updated key — an update can
        # MOVE a key across partitions, and skipping the old partition
        # would leave the stale row behind (duplicate keys). Finding
        # the old partitions costs one keys-only semi join over the
        # target; callers whose partition values are derived from the
        # key (so keys never move) can skip it with
        # ``keys_partition_stable=True`` and prune purely from updates.
        touched_df = updates.select(*partition_by)
        if not keys_partition_stable:
            moved = existing.join(up_keys, list(key_cols), "left_semi").select(
                *partition_by
            )
            touched_df = touched_df.unionByName(moved)
        touched = touched_df.distinct().collect()
        if not touched:
            return
        merged = _merge(_prune_to_partitions(existing, touched, partition_by))
        _pmanifest_rewrite(
            spark, target_path, partition_by, live, merged, touched, base_seq
        )
    except ConcurrentCommitError:
        # a racing commit moved the base: the version dir we wrote is
        # an orphan (vacuum reclaims it); re-read and re-apply the
        # merge against the fresh base
        if occ_retries <= 0:
            raise
        merge_upsert(
            spark,
            target_path,
            updates,
            key_cols,
            partition_by=partition_by,
            keys_partition_stable=keys_partition_stable,
            version_cols=version_cols,
            tombstone_col=tombstone_col,
            retain_tombstones=retain_tombstones,
            allow_schema_evolution=allow_schema_evolution,
            occ_retries=occ_retries - 1,
        )


def purge_tombstones(
    spark,
    path: str,
    tombstone_col: str,
    horizon: "Column | None" = None,
    partition_by: Sequence[str] | None = None,
    occ_retries: int = 5,
) -> int:
    """Drop retained soft tombstones from a CDC manifest table — the
    periodic compaction that bounds a
    ``merge_upsert(retain_tombstones=True)`` lake. Purge ONLY
    tombstones older than your out-of-orderness horizon (pass
    ``horizon`` as a boolean Column over the row, e.g.
    ``col('ts') < lit(cutoff)``): purging a younger tombstone reopens
    the resurrection window the retained flag exists to close — a
    stale upsert replayed after the purge would reinsert the key. A
    tombstone whose horizon evaluates to NULL is KEPT (can't prove
    it's past the horizon ⇒ not purgeable) and not counted. Stored
    NULL flags are live and always kept. Returns the number of rows
    purged.

    Commit protocol — the same commit log as :func:`merge_upsert`,
    with the same OCC retry: a flat manifest commits its survivors as
    one fresh version; a partitioned manifest (pass its
    ``partition_by``) rewrites only the partitions that hold purgeable
    rows, and a partition the purge empties leaves the generation
    mapping. A plain parquet directory raises ``ValueError``.

    Scale shape (partitioned): one column-pruned stats aggregation
    gives the driver the purged count and the affected partitions in
    a single bounded collect, then ONE pruned read feeds the rewrite —
    affected-partition pruning switches from a literal predicate to a
    broadcast semi join past 64 partitions, exactly as
    :func:`merge_upsert` does."""
    live, cols, base_seq = _live_manifest(spark, path)
    if _state_deltas(live):
        raise ValueError(
            f"{path} carries outstanding merge-on-read deltas — purge "
            "operates on stored rows; fold the backlog first "
            "(compact_small_files / optimize_zorder), then purge"
        )
    _check_partition_by(partition_by, cols)
    df = (
        read_partitioned_manifest(spark, path)
        if partition_by
        else _read_immutable_dir(spark, f"{path}/_data/{live}")
    )
    if tombstone_col not in df.columns:
        raise ValueError(f"tombstone_col not in table: {tombstone_col}")
    doomed = F.coalesce(F.col(tombstone_col), F.lit(False))
    if horizon is not None:
        doomed = doomed & F.coalesce(horizon, F.lit(False))

    try:
        if not partition_by:
            purged = df.filter(doomed).count()
            if purged:
                _manifest_commit(
                    spark, path, df.filter(~doomed), expected_seq=base_seq
                )
            return purged
        # ONE column-pruned stats scan (partition cols + the flag/
        # horizon columns only) yields the purged count and the
        # affected partitions as one bounded collect (≤ one row per
        # affected partition)
        affected = (
            df.groupBy(*partition_by)
            .agg(F.sum(F.when(doomed, 1).otherwise(0)).alias("_doomed"))
            .filter(F.col("_doomed") > 0)
            .collect()
        )
        purged = sum(r["_doomed"] for r in affected)
        if purged:
            survivors = _prune_to_partitions(df, affected, partition_by).filter(
                ~doomed
            )
            _pmanifest_rewrite(
                spark, path, partition_by, live, survivors, affected, base_seq
            )
        return purged
    except ConcurrentCommitError:
        if occ_retries <= 0:
            raise
        return purge_tombstones(
            spark,
            path,
            tombstone_col,
            horizon=horizon,
            partition_by=partition_by,
            occ_retries=occ_retries - 1,
        )


def _rewrite_live(
    spark, path: str, layout, target_rows_per_file: int, occ_retries: int
) -> int:
    """The ONE whole-table maintenance rewrite, shared by
    :func:`compact_small_files` and :func:`optimize_zorder`, which
    differ only in ``layout(df, files, partition_cols) -> DataFrame``:
    read the live table (any merge-on-read backlog resolved, so the
    committed state is a plain state line again), lay it out over
    ``files = ceil(rows / target_rows_per_file)`` tasks, and commit it
    as ONE fresh version — flat: through the pointer; partitioned: a
    generation mapping every partition to it. A commit that lost a
    race re-runs against the fresh state, up to ``occ_retries`` times.
    Returns the new version's data file count (through the Hadoop FS:
    the table may live on an object store)."""
    import math
    import uuid

    _, cols, seq = _live_manifest(spark, path)
    if cols is None:
        df = read_manifest_table(spark, path)
    elif not cols:
        raise ValueError(f"partitioned manifest {path} lists no #cols")
    else:
        df = read_partitioned_manifest(spark, path)
    files = max(1, math.ceil(df.count() / target_rows_per_file))
    laid = layout(df, files, cols or [])
    try:
        if cols is None:
            _manifest_commit(spark, path, laid, expected_seq=seq)
            vpath, subdirs = _resolve_table_path(spark, path), [""]
        else:
            # each partition value hash/range-pinned to its tasks → few
            # files per partition dir
            version = f"v_{uuid.uuid4().hex[:12]}"
            vpath = f"{path}/_data/{version}"
            laid.write.mode("error").partitionBy(*cols).parquet(vpath)
            subdirs = _list_partition_subdirs(spark, vpath, len(cols))
            _pmanifest_commit(
                spark, path, cols, {sd: version for sd in subdirs},
                expected_seq=seq,
            )
    except ConcurrentCommitError:
        if occ_retries <= 0:
            raise
        return _rewrite_live(
            spark, path, layout, target_rows_per_file, occ_retries - 1
        )
    fs, _, jvm = _hadoop_fs(spark, vpath)
    count = 0
    for sd in subdirs:
        for st in fs.listStatus(
            jvm.org.apache.hadoop.fs.Path(f"{vpath}/{sd}" if sd else vpath)
        ):
            nm = st.getPath().getName()
            if nm.startswith("part-") and nm.endswith(".parquet"):
                count += 1
    return count


def compact_small_files(
    spark,
    path: str,
    target_rows_per_file: int = 1_000_000,
    occ_retries: int = 5,
) -> int:
    """Compact a manifest table's small-file dust into
    ~``target_rows_per_file`` files (the maintenance job every
    streaming/append lake needs: availableNow micro-batches and
    per-trigger appends leave thousands of KB-sized files whose
    open/footer cost eventually dominates scans), folding any
    merge-on-read backlog on the way. Returns the new file count.

    Commit protocol (shared with :func:`optimize_zorder` — see
    :func:`_rewrite_live`): the rewrite lands in a fresh immutable
    version (a partitioned table hash-pins each partition value to one
    task, so one file per partition dir) committed through the commit
    log; a failure mid-write never touches live data, and a lost
    commit race re-runs against the new state. A plain parquet
    directory raises ``ValueError``."""
    return _rewrite_live(
        spark,
        path,
        lambda df, files, cols: df.repartition(files, *cols),
        target_rows_per_file,
        occ_retries,
    )


def optimize_zorder(
    spark,
    path: str,
    zorder_by: Sequence[str],
    target_rows_per_file: int = 1_000_000,
    occ_retries: int = 5,
) -> int:
    """``OPTIMIZE ... ZORDER BY``: one maintenance rewrite that both
    compacts small-file dust AND clusters the data on the Morton
    interleave of ``zorder_by`` (:mod:`async_pipes_spark.sources.layout`),
    so parquet min/max footer stats prune files against conjunctive
    predicates on any subset of those columns. Returns the new data
    file count.

    Commit protocol as :func:`compact_small_files` (one shared
    rewrite): a flat manifest table publishes ONE new ``_data/v_*``
    version through the pointer; a partitioned manifest table writes
    one fresh version clustered (partition cols first, z-value within)
    and publishes a generation mapping every partition to it; a plain
    parquet directory raises ``ValueError``. The rewrite is the
    familiar maintenance shape — one stats row for the quantization
    bounds, one sampled range shuffle (skew-proof), spillable sorts —
    and a failure mid-write never touches live data."""
    from async_pipes_spark.sources.layout import zorder_value

    def layout(df: DataFrame, files: int, cols: list[str]) -> DataFrame:
        return (
            df.withColumn("_z", zorder_value(df, zorder_by))
            .repartitionByRange(files, *cols, "_z")
            .sortWithinPartitions(*cols, "_z")
            .drop("_z")
        )

    return _rewrite_live(spark, path, layout, target_rows_per_file, occ_retries)


def vacuum_manifest(
    spark,
    path: str,
    grace_seconds: float = 86_400,
    marker_retain: int = 1_000,
) -> dict[str, int]:
    """Reclaim a manifest table's unreferenced storage: ``_data``
    version dirs (and, for the partitioned flavor, ``_gens`` mapping
    files) that no RETAINED state references AND whose modification
    time is older than ``grace_seconds`` — crashed commits' orphans,
    conflict-abandoned writes, and dirs whose commit-time GC was
    interrupted. Commit-time GC deliberately deletes only its own
    dropped lineage (an unreferenced dir may be a concurrent writer's
    in-flight commit), so this is the periodic sweep that bounds
    storage, exactly like Delta's VACUUM. The grace window is the
    safety contract: it must exceed the longest-running concurrent
    write or time-travel read. Also prunes commit-log markers more
    than ``marker_retain`` commits behind the live sequence (the
    post-claim raw-pointer recheck in :func:`_claim_commit` callers
    keeps even a vacuumed slot number from regressing the table) and
    stats sidecars of vacuumed versions. Returns per-category delete
    counts."""
    import time

    lines = _manifest_lines(spark, path)
    if not lines:
        raise ValueError(f"not a manifest table (no {_MANIFEST}): {path}")
    live_seq = _parse_seq(lines)
    pinfo = _pmanifest_read(spark, path)
    if pinfo is not None:
        # referenced: base version dirs through each retained state's
        # generation mapping, plus merge-on-read delta dirs named on
        # the state lines; _gens sweep keeps retained BASE gen files
        retained_gens = {_state_base(s) for s in pinfo[0]}
        referenced = set()
        for s in pinfo[0]:
            referenced.update(
                _pmanifest_mapping(spark, path, _state_base(s)).values()
            )
            referenced.update(_state_deltas(s))
    else:
        retained_gens = set()
        versions, _, _ = _manifest_read(spark, path)
        referenced = set()
        for s in versions:
            referenced.update(_state_data_dirs(s))
    fs, _, jvm = _hadoop_fs(spark, f"{path}/{_MANIFEST}")
    cutoff_ms = (time.time() - grace_seconds) * 1000.0
    counts = {"data_dirs": 0, "gen_files": 0, "markers": 0, "stats_sidecars": 0}

    def _sweep(subdir: str, keep: set[str], key: str) -> set[str]:
        """Delete old entries of ``subdir`` not in ``keep``; return the
        names deleted."""
        root = jvm.org.apache.hadoop.fs.Path(f"{path}/{subdir}")
        gone: set[str] = set()
        if not fs.exists(root):
            return gone
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if name.startswith(".") or name in keep:
                continue  # checksum sidecars / retained entries
            if st.getModificationTime() >= cutoff_ms:
                continue  # inside the grace window: possibly in-flight
            fs.delete(st.getPath(), True)
            counts[key] += 1
            gone.add(name)
        return gone

    _sweep("_data", referenced, "data_dirs")
    if pinfo is not None:
        _sweep("_gens", retained_gens, "gen_files")
    # markers: keep the newest marker_retain slots (and anything
    # newer than the pointer — unpublished-but-durable commits)
    commits_p = jvm.org.apache.hadoop.fs.Path(f"{path}/{_COMMITS}")
    if fs.exists(commits_p):
        for st in fs.listStatus(commits_p):
            name = st.getPath().getName()
            if name.startswith(".") or not name.startswith("c_"):
                continue
            try:
                seq = int(name[2:])
            except ValueError:
                continue
            if seq <= live_seq - marker_retain:
                fs.delete(st.getPath(), False)
                counts["markers"] += 1
    # stats sidecars of unreferenced versions
    _sweep("_stats", referenced, "stats_sidecars")
    return counts


def manifest_diff(
    spark,
    path: str,
    old_version: str,
    new_version: str,
    key_cols: Sequence[str],
) -> DataFrame:
    """Change-data-feed between two retained versions of a flat
    manifest table: one row per changed key with ``change_type`` in
    ``insert`` (key only in new), ``delete`` (only in old), ``update``
    (in both, any non-key column differs — null-safe struct
    comparison). Unchanged keys are not emitted.

    The scale shape is ONE key-partitioned full outer join between the
    two immutable version dirs (each a plain pruned parquet scan);
    comparison is a JVM struct equality, no Python. Both versions must
    still be retained (see ``keep_versions``) — GC'd versions raise
    through :func:`read_manifest_table`."""
    if not key_cols:
        raise ValueError("key_cols is required")
    old = read_manifest_table(spark, path, version=old_version)
    new = read_manifest_table(spark, path, version=new_version)
    rest = [c for c in new.columns if c not in key_cols]
    missing = [c for c in old.columns if c not in new.columns] + [
        c for c in new.columns if c not in old.columns
    ]
    if missing:
        raise ValueError(
            f"manifest_diff requires matching schemas; mismatched: {missing}"
        )
    def payload(df):
        # key-only tables can only insert/delete — constant payload
        return F.struct(*[F.col(c) for c in rest]) if rest else F.lit(0)

    o = old.select(
        *[F.col(k).alias(k) for k in key_cols],
        payload(old).alias("_o"),
        F.lit(True).alias("_in_o"),
    )
    n = new.select(
        *[F.col(k).alias(k) for k in key_cols],
        payload(new).alias("_n"),
        F.lit(True).alias("_in_n"),
    )
    joined = o.join(n, list(key_cols), "full_outer")
    return (
        joined.withColumn(
            "change_type",
            F.when(F.col("_in_o").isNull(), F.lit("insert"))
            .when(F.col("_in_n").isNull(), F.lit("delete"))
            .when(~F.col("_o").eqNullSafe(F.col("_n")), F.lit("update")),
        )
        .where(F.col("change_type").isNotNull())
        .select(*key_cols, "change_type")
    )
