"""File-level column statistics + stats-pruned scans (data skipping).

The 100 TB story: a selective query against a well-clustered table
(:mod:`async_pipes_spark.sources.layout` z-ordering) should OPEN only
the files whose [min, max] bounding box intersects its predicate —
not list-and-scan everything and rely on row-group skipping inside
each file. Engines do this with a file-level stats index consulted at
planning time (the Delta Lake / Iceberg data-skipping idiom, public
in both formats' specs): stats are collected once per immutable
commit from the parquet FOOTERS (metadata only — no data read), and
the scan planner intersects them with the query's bounds to produce
the file list.

Spark-first shape here:

- :func:`collect_file_stats` distributes the footer reads — the file
  list becomes a DataFrame and an Arrow ``mapInPandas`` kernel opens
  each footer in parallel (a million-file table reads a million
  footers across the cluster, never on the driver).
- :func:`write_file_stats` persists the stats as a tiny parquet
  sidecar next to the data (``_stats/<version>`` — underscore-named,
  so plain readers never see it), keyed to the manifest version when
  the table is one: version dirs are immutable, so a sidecar is
  complete-by-construction for its version forever.
- :func:`read_stats_pruned` is the planning step: the per-file
  intersect test runs as a Spark aggregation over the sidecar and
  ONLY the surviving file list is collected (the scan plan — the
  same bounded driver artifact every engine's planner materializes),
  then those files are read and the residual predicate applied.
  Pruning is CONSERVATIVE by construction: a file is dropped only
  when its stats PROVE no row can match (missing stats, all-null
  chunks, unknown columns all keep the file), so the result is
  always exactly the plain filter's.
"""

from __future__ import annotations

from collections.abc import Iterator, Mapping, Sequence

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ByteType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
)

from async_pipes_spark.sources.sinks import (
    _dir_schema,
    _hadoop_fs,
    _pmanifest_read,
    _read_immutable_dir,
    _read_immutable_dirs,
    _resolve_table_path,
    manifest_version,
    mor_deltas,
)


def _resolved_read(spark, path: str) -> DataFrame:
    """The CORRECT full read of a table path for pruned-scan
    fallbacks: any commit flavor, any merge-on-read backlog —
    :func:`~async_pipes_spark.sources.sinks.read_table`."""
    from async_pipes_spark.sources.sinks import read_table

    return read_table(spark, path)

#: long-format stats schema: one row per (file, column)
STATS_SCHEMA = (
    "file string, num_rows bigint, col string, "
    "vmin double, vmax double, has_stats boolean"
)

_NUMERIC_TYPES = (
    ByteType,
    ShortType,
    IntegerType,
    LongType,
    FloatType,
    DoubleType,
    DecimalType,
)

#: 2-tuple (lo, hi) closed bounds per column; None = unbounded side
Bounds = Mapping[str, tuple[float | None, float | None]]


#: file listings of IMMUTABLE manifest version dirs (``_data/v_*`` —
#: uuid-named, written by exactly one commit, only ever deleted whole
#: by retention GC), memoized like their schemas: the pruning planners
#: re-list the same live version dir on every plan, ~2 py4j round
#: trips per file each time. PLAIN dirs are mutable and never cache —
#: the sidecar staleness check depends on a fresh listing there.
_DIR_FILES_CACHE: dict[str, list[str]] = {}


def _listed_files(spark, data_dir: str, table_path: str) -> list[str]:
    """`_list_parquet_files`, memoized iff ``data_dir`` is a manifest
    version dir (immutable by the commit protocol); a plain parquet
    dir (``data_dir == table_path``) always lists fresh."""
    if data_dir == table_path:
        return _list_parquet_files(spark, data_dir)
    hit = _DIR_FILES_CACHE.get(data_dir)
    if hit is None:
        hit = _list_parquet_files(spark, data_dir)
        _DIR_FILES_CACHE[data_dir] = hit
    return hit


def _list_parquet_files(spark, dir_path: str) -> list[str]:
    """Recursive data-file listing (``part-*.parquet``) under
    ``dir_path`` via the Hadoop FS — one metadata listing, the same
    cost any reader of the directory pays."""
    fs, p, jvm = _hadoop_fs(spark, dir_path)
    root = fs.makeQualified(p).toString().rstrip("/")
    out: list[str] = []
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        full = st.getPath().toString()
        rel = full[len(root) :].lstrip("/")
        parts = rel.split("/")
        # skip hidden/metadata trees (the _stats sidecar, _SUCCESS,
        # staging dirs) — the same underscore/dot convention Spark's
        # own readers apply
        if any(seg.startswith(("_", ".")) for seg in parts):
            continue
        if parts[-1].startswith("part-") and parts[-1].endswith(".parquet"):
            out.append(full)
    return sorted(out)


def _footer_stats_kernel(cols: Sequence[str]):
    wanted = list(cols)

    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd
        import pyarrow.parquet as pq

        def open_meta(uri: str):
            if uri.startswith("file:"):
                local = uri[len("file:") :]
                while local.startswith("//"):
                    local = local[1:]
                return pq.ParquetFile(local).metadata
            from pyarrow import fs as pafs

            filesystem, sub = pafs.FileSystem.from_uri(uri)
            return pq.ParquetFile(filesystem.open_input_file(sub)).metadata

        for pdf in batches:
            rows = []
            for uri in pdf["file"]:
                md = open_meta(uri)
                lo: dict = {c: None for c in wanted}
                hi: dict = {c: None for c in wanted}
                seen: dict = {c: True for c in wanted}
                for rg in range(md.num_row_groups):
                    g = md.row_group(rg)
                    found = set()
                    for i in range(g.num_columns):
                        ch = g.column(i)
                        c = ch.path_in_schema
                        if c not in lo:
                            continue
                        found.add(c)
                        st = ch.statistics
                        if st is None or not st.has_min_max:
                            # a chunk with unknown bounds poisons the
                            # file's stats (unless it holds no values
                            # at all — the all-null chunk, which
                            # cannot widen a numeric range)
                            if st is None or st.null_count != ch.num_values:
                                seen[c] = False
                            continue
                        try:
                            mn, mx = float(st.min), float(st.max)
                        except (TypeError, ValueError):
                            seen[c] = False
                            continue
                        lo[c] = mn if lo[c] is None else min(lo[c], mn)
                        hi[c] = mx if hi[c] is None else max(hi[c], mx)
                    for c in wanted:
                        if c not in found:
                            seen[c] = False  # column absent from file
                for c in wanted:
                    ok = seen[c] and lo[c] is not None
                    rows.append(
                        (
                            uri,
                            md.num_rows,
                            c,
                            lo[c] if ok else None,
                            hi[c] if ok else None,
                            ok,
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "file",
                    "num_rows",
                    "col",
                    "vmin",
                    "vmax",
                    "has_stats",
                ],
            )

    return kernel


def collect_file_stats(
    spark, files: Sequence[str], cols: Sequence[str]
) -> DataFrame:
    """Per-file [min, max] for ``cols`` from parquet footers, as a
    long-format DataFrame (:data:`STATS_SCHEMA`). The footer reads are
    DISTRIBUTED — each task opens its files' metadata only (a few KB
    per file, no data pages), so a huge table's stats collection is an
    embarrassingly parallel metadata sweep, not a scan."""
    n_slices = max(1, min(len(files), spark.sparkContext.defaultParallelism))
    fdf = spark.createDataFrame(
        [(f,) for f in files], "file string"
    ).repartition(n_slices, "file")
    return fdf.mapInPandas(_footer_stats_kernel(cols), STATS_SCHEMA)


#: below this many files the stats sidecar builds DRIVER-SIDE: the same
#: footer kernel runs in-process on the file list and the sidecar is
#: written with pyarrow — no Spark job for the sweep, none for the
#: write. This is the scale-adaptive twin of the distributed path
#: (which stays for big tables): sidecars rebuild after EVERY commit
#: (`_refresh_sidecar`), and for the small tables the engine's
#: lifecycles churn, two ~1 s jobs per commit were the dominant commit
#: cost (r12 profile: 9.8 s of a11's 37 s). Tunable for clusters where
#: the driver is far from storage.
import os as _os

_STATS_DRIVER_FILES_CAP = int(
    _os.environ.get("SPARK_GRAFT_STATS_DRIVER_FILES", "64")
)


def _driver_footer_stats(files: Sequence[str], cols: Sequence[str]):
    """The footer kernel, run in the driver process over a SMALL file
    list — identical logic (same function), so the sidecar rows are
    byte-identical to the distributed sweep's."""
    import pandas as pd

    kernel = _footer_stats_kernel(cols)
    parts = list(kernel(iter([pd.DataFrame({"file": list(files)})])))
    return (
        pd.concat(parts, ignore_index=True)
        if parts
        else pd.DataFrame(
            columns=["file", "num_rows", "col", "vmin", "vmax", "has_stats"]
        )
    )


def _sidecar_table_driver(sidecar_dir: str):
    """Driver-side pyarrow read of a TINY sidecar dir → ``pa.Table``,
    or None on any failure / non-local scheme (callers fall back to
    the Spark read). Sidecars are O(files × cols) rows by construction
    — a driver read is ~5 ms where the Spark read + collect pair costs
    two ~0.3 s jobs at the local job floor (guide §1.2: the planning
    path is driver work; don't launch cluster jobs for it)."""
    try:
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq

        local = sidecar_dir
        if local.startswith("file:"):
            local = local[len("file:") :]
            while local.startswith("//"):
                local = local[1:]
        elif "://" in local:
            return None
        parts = sorted(
            os.path.join(local, f)
            for f in os.listdir(local)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
        if not parts:
            return None
        tables = [pq.read_table(p) for p in parts]
        return (
            pa.concat_tables(tables, promote_options="default")
            if len(tables) > 1
            else tables[0]
        )
    except Exception:  # noqa: BLE001 — optimization only
        return None


def _sidecar_meta_driver(sidecar_dir: str) -> dict | None:
    """Driver-side read of a TINY sidecar dir: its distinct ``col``
    set and first row (bloom parameters ride every row). Any failure
    returns None and the caller falls back to the Spark read. Kills
    the two small Spark jobs the per-commit sidecar refresh used to
    pay just to learn which columns to rebuild."""
    try:
        t = _sidecar_table_driver(sidecar_dir)
        if t is None:
            return None
        cols = sorted({v for v in t.column("col").to_pylist() if v is not None})
        first = (
            {name: t.column(name)[0].as_py() for name in t.column_names}
            if t.num_rows
            else {}
        )
        return {"cols": cols, "first": first}
    except Exception:  # noqa: BLE001 — optimization only
        return None


def _write_sidecar_driver(spark, pdf, out_dir: str) -> bool:
    """Write a (tiny) sidecar parquet dir driver-side with pyarrow —
    one part file, no Spark write job. Returns False on any failure
    (odd filesystem, missing pyarrow codec) so the caller falls back
    to the Spark write; the sidecar dirs are derived data keyed by
    immutable version names, so an overwrite here is as safe as the
    Spark overwrite it replaces."""
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = pa.schema(
            [
                ("file", pa.string()),
                ("num_rows", pa.int64()),
                ("col", pa.string()),
                ("vmin", pa.float64()),
                ("vmax", pa.float64()),
                ("has_stats", pa.bool_()),
            ]
        )
        table = pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
        fs, p, jvm = _hadoop_fs(spark, out_dir)
        fs.delete(p, True)
        fs.mkdirs(p)
        part = f"{out_dir}/part-00000-driver.parquet"
        if part.startswith("file:"):
            local = part[len("file:") :]
            while local.startswith("//"):
                local = local[1:]
            pq.write_table(table, local)
        elif "://" not in part:
            pq.write_table(table, part)
        else:
            from pyarrow import fs as pafs

            filesystem, sub = pafs.FileSystem.from_uri(part)
            with filesystem.open_output_stream(sub) as out:
                pq.write_table(table, out)
        return True
    except Exception:  # noqa: BLE001 — optimization only, never correctness
        return False


def _stats_dir(path: str, version: str | None) -> str:
    return f"{path}/_stats/{version or 'flat'}"


def write_file_stats(spark, path: str, cols: Sequence[str]) -> int:
    """Build the stats sidecar for table ``path`` (the live version of
    a flat manifest table, or a plain parquet directory) over numeric
    ``cols``. Idempotent — rerunning overwrites the sidecar (it is
    derived data, rebuildable from footers at any time). Returns the
    number of data files indexed.

    At 100 TB this runs once per commit over the NEW version's files
    (immutable dirs make sidecars append-only artifacts); the sidecar
    itself is ~a hundred bytes per file — a million-file table carries
    a ~100 MB index, trivially re-plannable."""
    if _pmanifest_read(spark, path) is not None:
        raise ValueError(
            f"{path} is a PARTITIONED manifest table — its live file set "
            "is a per-partition generation mapping, not one directory; "
            "file-stats sidecars cover flat manifest tables and plain "
            "parquet directories"
        )
    if mor_deltas(spark, path):
        raise ValueError(
            f"{path} carries outstanding merge-on-read deltas — sidecars "
            "index base files only and would skip rows the deltas supersede "
            "or add; fold the backlog first (compact_small_files / "
            "optimize_zorder), then build"
        )
    data_dir = _resolve_table_path(spark, path)
    # schema only (manifest base dirs are immutable: cached); plain
    # dirs are mutable and keep the inferring read
    sch = (
        _dir_schema(spark, data_dir)
        if data_dir != path
        else spark.read.parquet(data_dir).schema
    )
    bad = [
        c
        for c in cols
        if c not in sch.names
        or not isinstance(sch[c].dataType, _NUMERIC_TYPES)
    ]
    if bad:
        raise ValueError(
            f"write_file_stats needs existing numeric columns; bad: {bad}"
        )
    version = manifest_version(spark, path)
    files = _list_parquet_files(spark, data_dir)
    out_dir = _stats_dir(path, version)
    # scale-adaptive: small file lists sweep footers in the DRIVER and
    # write the sidecar with pyarrow — zero Spark jobs (the dominant
    # per-commit cost for the engine's lifecycle tables); big tables
    # keep the distributed kernel sweep
    if len(files) <= _STATS_DRIVER_FILES_CAP:
        pdf = _driver_footer_stats(files, cols)
        if _write_sidecar_driver(spark, pdf, out_dir):
            return len(files)
    stats = collect_file_stats(spark, files, cols)
    stats.coalesce(1).write.mode("overwrite").parquet(out_dir)
    return len(files)


def _refresh_sidecar(spark, path, root_name, col_filter, rebuild, retain):
    """The ONE refresh/GC loop for per-version sidecars (shared by
    ``_stats`` and ``_bloom`` so the src-selection, column-inheritance,
    and GC edge cases can never drift): if any sidecar exists under
    ``<path>/<root_name>``, rebuild it for the live version — columns
    inherited from an existing sidecar, filtered by ``col_filter(df,
    col)`` (schema evolution may have dropped some) — via
    ``rebuild(cols, src_df)``, then delete sidecars of versions outside
    ``retain``. Returns files indexed (0 = no sidecar or no surviving
    columns)."""
    root = f"{path}/{root_name}"
    fs, sp, jvm = _hadoop_fs(spark, root)
    if not fs.exists(sp):
        return 0
    names = [st.getPath().getName() for st in fs.listStatus(sp)]
    if not names:
        return 0
    live = manifest_version(spark, path)
    target = live or "flat"
    if mor_deltas(spark, path):
        # merge-on-read backlog: the live state has no complete base to
        # index (building would raise). Keep retained versions' sidecars
        # (still valid for their immutable dirs), GC the rest; the next
        # compaction publishes a delta-free base and rebuilds.
        keep = set(retain or ()) | {target}
        for name in names:
            if name not in keep:
                fs.delete(jvm.org.apache.hadoop.fs.Path(f"{root}/{name}"), True)
        return 0
    # inherit the column set from an existing sidecar (prefer the
    # live version's own if present, else any — commits share cols).
    # The sidecar is tiny and read DRIVER-SIDE when pyarrow can reach
    # it (no Spark job on the per-commit path); any failure falls back
    # to the Spark read.
    src = target if target in names else sorted(names)[0]
    meta = _sidecar_meta_driver(f"{root}/{src}")
    if meta is None:
        src_df = spark.read.parquet(f"{root}/{src}")
        cols = [r["col"] for r in src_df.select("col").distinct().collect()]
        meta = {
            "cols": cols,
            "first": (src_df.first().asDict() if cols else {}),
        }
    cols = meta["cols"]
    tdir = _resolve_table_path(spark, path)
    sch = (
        _dir_schema(spark, tdir)
        if tdir != path
        else spark.read.parquet(tdir).schema
    )
    cols = [c for c in cols if col_filter(sch, c)]
    n = rebuild(cols, meta["first"]) if cols else 0
    keep = set(retain or ()) | {target}
    for name in names:
        if name not in keep or (not cols and name == target):
            fs.delete(jvm.org.apache.hadoop.fs.Path(f"{root}/{name}"), True)
    return n


def refresh_file_stats(
    spark, path: str, retain: set[str] | None = None
) -> int:
    """Keep a table's stats sidecar FRESH across commits (columns
    inherited, non-numeric ones dropped after schema evolution; no
    sidecar = no-op).
    :func:`~async_pipes_spark.sources.sinks._manifest_commit` calls
    this after every pointer replace, so merge/purge/compact/OPTIMIZE
    never silently turn data skipping off — the footer sweep over the
    new version's files is the standing cost of keeping the skip index
    alive, exactly as in Delta/Iceberg stats collection."""

    def numeric(sch, c):
        return c in sch.names and isinstance(
            sch[c].dataType, _NUMERIC_TYPES
        )

    return _refresh_sidecar(
        spark,
        path,
        "_stats",
        numeric,
        lambda cols, _first: write_file_stats(spark, path, cols),
        retain,
    )


def refresh_file_bloom(
    spark, path: str, retain: set[str] | None = None
) -> int:
    """The bloom twin of :func:`refresh_file_stats`: a table that
    carries any ``_bloom`` sidecar gets it rebuilt for the live version
    after every commit WITH THE PARAMETERS IT OPTED IN WITH
    (bits_per_key / num_hashes are stored in the sidecar rows — a
    tuned low-FPR index must not silently downgrade to defaults at the
    first merge), and sidecars of dropped versions are GC'd. Unlike
    footer stats this rebuild SCANS the key columns' data pages — the
    standing cost of a bloom index (Delta computes them at write for
    the same reason), paid only by tables that opted in via
    :func:`write_file_bloom`."""

    def rebuild(cols, first):
        return write_file_bloom(
            spark,
            path,
            cols,
            bits_per_key=int(first["bits_per_key"]),
            num_hashes=int(first["num_hashes"]),
        )

    return _refresh_sidecar(
        spark,
        path,
        "_bloom",
        lambda sch, c: c in sch.names,
        rebuild,
        retain,
    )


def _load_sidecar(spark, path: str, version: str | None):
    sd = _stats_dir(path, version)
    fs, p, _ = _hadoop_fs(spark, sd)
    if not fs.exists(p):
        return None
    return spark.read.parquet(sd)


def _plan_sidecar_rows(spark, sdir: str) -> tuple[bool, list[dict] | None]:
    """The pruning planners' sidecar as driver-side rows:
    ``(exists, rows)`` — ``(False, None)`` when the dir is missing (no
    sidecar: the planner returns None), ``(True, rows)`` on a driver
    read, ``(True, None)`` when the dir exists but pyarrow can't read
    it (non-local scheme: the caller falls back to the Spark read).
    The planners are pure driver arithmetic over O(files × cols) rows;
    launching 2-3 cluster jobs per plan just to aggregate them was the
    dominant fixed cost of every pruned scan at the local job floor
    (guide §1.2, §5: the driver should do no DATA work — this is
    metadata, exactly what it should do)."""
    fs, p, _ = _hadoop_fs(spark, sdir)
    if not fs.exists(p):
        return False, None
    t = _sidecar_table_driver(sdir)
    return True, (t.to_pylist() if t is not None else None)


def prune_files(
    spark, path: str, bounds: Bounds, base_only: bool = False
) -> tuple[list[str], int] | None:
    """The planning step: (surviving files, total files) for a scan of
    ``path`` with closed-interval ``bounds`` (``{col: (lo, hi)}``,
    ``None`` = unbounded side), or ``None`` when no usable sidecar
    exists (missing, or stale for a plain directory that was
    rewritten). A file survives unless some bounded column's stats
    PROVE it empty of matches; only the survivors are collected — the
    bounded scan-plan artifact. A merge-on-read backlog disables
    pruning (None) unless ``base_only=True``: the sidecar covers base
    files only — still VALID for them (the base version is immutable;
    mor_upsert never rewrites it) — so a caller that resolves the
    deltas itself (:func:`scan`, the pruned-read entry points) plans
    the base side here and unions the resolved backlog."""
    if not base_only and mor_deltas(spark, path):
        return None
    version = manifest_version(spark, path)
    exists, rows = _plan_sidecar_rows(spark, _stats_dir(path, version))
    if not exists:
        return None
    data_dir = _resolve_table_path(spark, path)
    listed = _listed_files(spark, data_dir, path)
    if rows is not None:
        # driver fast path — identical semantics to the Spark
        # aggregation below (has_stats=True implies non-NULL vmin/vmax
        # by kernel construction, so no three-valued-logic divergence)
        if {r["file"] for r in rows} != set(listed):
            return None  # stale sidecar (plain dir rewritten in place)
        bad = set()
        for r in rows:
            b = bounds.get(r["col"])
            if b is None or not r["has_stats"]:
                continue
            lo, hi = b
            if (lo is not None and r["vmax"] < lo) or (
                hi is not None and r["vmin"] > hi
            ):
                bad.add(r["file"])
        return sorted({r["file"] for r in rows} - bad), len(listed)
    sidecar = _load_sidecar(spark, path, version)
    if sidecar is None:
        return None
    indexed = [r["file"] for r in sidecar.select("file").distinct().collect()]
    if set(indexed) != set(listed):
        return None  # stale sidecar (plain dir rewritten in place)
    viol = F.lit(False)
    for c, (lo, hi) in bounds.items():
        is_c = F.col("col") == c
        if lo is not None:
            viol = viol | (is_c & F.col("has_stats") & (F.col("vmax") < lo))
        if hi is not None:
            viol = viol | (is_c & F.col("has_stats") & (F.col("vmin") > hi))
    kept = (
        sidecar.groupBy("file")
        .agg(F.max(viol.cast("int")).alias("viol"))
        .where(F.col("viol") == 0)
        .select("file")
        .collect()
    )
    return sorted(r["file"] for r in kept), len(listed)


def prune_files_in(
    spark, path: str, col: str, values: Sequence[float],
    base_only: bool = False,
) -> tuple[list[str], int] | None:
    """IN-list planning: (surviving files, total) for a scan keeping
    only rows whose ``col`` is one of ``values`` — the probe shape of
    a cell-clustered index (an IVF probe reads a SET of cells, not a
    range). A file survives unless its stats prove NO listed value
    falls inside its [min, max]; same conservative/stale-sidecar and
    ``base_only`` merge-on-read contract as :func:`prune_files`.
    ``values`` is a bounded driver-side set by construction (probe
    lists, partition keys)."""
    if not values:
        raise ValueError("prune_files_in needs a non-empty value list")
    if not base_only and mor_deltas(spark, path):
        return None  # sidecar covers base files only (see prune_files)
    version = manifest_version(spark, path)
    exists, rows = _plan_sidecar_rows(spark, _stats_dir(path, version))
    if not exists:
        return None
    data_dir = _resolve_table_path(spark, path)
    listed = _listed_files(spark, data_dir, path)
    if rows is not None:
        # driver fast path — same semantics as the Spark aggregation
        if {r["file"] for r in rows} != set(listed):
            return None
        pvals = [float(v) for v in values]
        bad = set()
        for r in rows:
            if r["col"] != col or not r["has_stats"]:
                continue
            vmin, vmax = r["vmin"], r["vmax"]
            if not any(vmin <= v <= vmax for v in pvals):
                bad.add(r["file"])
        return sorted({r["file"] for r in rows} - bad), len(listed)
    sidecar = _load_sidecar(spark, path, version)
    if sidecar is None:
        return None
    indexed = [r["file"] for r in sidecar.select("file").distinct().collect()]
    if set(indexed) != set(listed):
        return None
    vals = F.array(*[F.lit(float(v)) for v in values])
    inside = F.exists(
        vals, lambda v: (F.col("vmin") <= v) & (v <= F.col("vmax"))
    )
    viol = (F.col("col") == col) & F.col("has_stats") & ~inside
    kept = (
        sidecar.groupBy("file")
        .agg(F.max(viol.cast("int")).alias("viol"))
        .where(F.col("viol") == 0)
        .select("file")
        .collect()
    )
    return sorted(r["file"] for r in kept), len(listed)


def _mor_pruned_read(
    spark, path: str, deltas: Sequence[str], kept: list[str] | None
) -> DataFrame:
    """Resolved merge-on-read read whose UNTOUCHED-base branch opens
    only the ``kept`` base files — the delta-aware skipping path
    (round-8 verdict item 1): sidecars describe the IMMUTABLE base
    version, so they keep pruning it under a backlog; the resolver
    unions the (small) resolved deltas on top. The caller must
    re-apply its predicate row-level (pruning is conservative and
    drops only rows the predicate would drop). Contested keys always
    resolve against the FULL base — a stale delta must lose to a base
    winner the predicate-prune might have dropped (versioned specs
    only; unversioned specs never read the base on the contested
    side). ``kept=None`` (no usable sidecar) falls back to the full
    resolved read."""
    from async_pipes_spark.sources.sinks import _mor_resolve

    base_dir = _resolve_table_path(spark, path)
    base = _read_immutable_dir(spark, base_dir)
    if kept is None:
        pruned = None
    elif kept:
        pruned = _read_immutable_dir(spark, *kept, schema_dir=base_dir)
    else:
        pruned = base.where(F.lit(False))
    # contested-scan pruning (versioned specs): the key-column sidecars
    # bound which base files can hold a delta-touched key, so the
    # semi-join side opens those instead of the whole base
    ckept = _mor_contested_plan(spark, path, deltas)
    if ckept is None:
        contested = None
    elif ckept:
        contested = _read_immutable_dir(spark, *ckept, schema_dir=base_dir)
    else:
        contested = base.where(F.lit(False))
    return _mor_resolve(
        spark, path, base, deltas,
        untouched_base=pruned, contested_base=contested,
    )


def _residual(df: DataFrame, bounds: Bounds) -> DataFrame:
    for c, (lo, hi) in bounds.items():
        if lo is not None:
            df = df.where(F.col(c) >= lo)
        if hi is not None:
            df = df.where(F.col(c) <= hi)
    return df


def _bloom_sidecar_rows(spark, bd: str, col: str):
    """The bloom sidecar's rows for ``col`` — driver-side pyarrow read
    when reachable (no Spark job), else the Spark read; ``None`` when
    the sidecar dir is missing. Rows index like mappings either way
    (``r["file"]``, ``r["bits"]``, ...)."""
    fs, p, _ = _hadoop_fs(spark, bd)
    if not fs.exists(p):
        return None
    t = _sidecar_table_driver(bd)
    if t is not None:
        return [r for r in t.to_pylist() if r["col"] == col]
    return spark.read.parquet(bd).where(F.col("col") == F.lit(col)).collect()


def _render_probe_strings(spark, dt, values) -> list[str] | None:
    """Driver-side twin of ``CAST(value AS <dt> AS STRING)`` for the
    type/value shapes where the two are PROVABLY identical: integral
    columns probed with Python ints (Spark renders decimal digits =
    ``str(int)``) and string columns probed with strs (identity cast).
    Anything else — doubles (Spark's formatting), booleans, decimals,
    dates, out-of-range ints (Spark CAST overflows to NULL) — returns
    None and the caller pays the one Spark render job. Keeps the bloom
    probe's build/probe string parity exact while removing the per-plan
    job for the overwhelmingly common key shapes."""
    from pyspark.sql.types import (
        ByteType,
        IntegerType,
        LongType,
        ShortType,
        StringType,
    )

    _INT_RANGES = {
        ByteType: (-(1 << 7), (1 << 7) - 1),
        ShortType: (-(1 << 15), (1 << 15) - 1),
        IntegerType: (-(1 << 31), (1 << 31) - 1),
        LongType: (-(1 << 63), (1 << 63) - 1),
    }
    rng = _INT_RANGES.get(type(dt))
    if rng is not None:
        out = []
        for v in values:
            if not isinstance(v, int) or isinstance(v, bool):
                return None
            if not (rng[0] <= v <= rng[1]):
                return None  # Spark CAST would overflow → NULL/raise
            out.append(str(v))
        return out
    if isinstance(dt, StringType):
        if all(isinstance(v, str) for v in values):
            return list(values)
        return None
    return None


def prune_files_bloom_any(
    spark, path: str, col: str, values: Sequence, base_only: bool = False
) -> tuple[list[str], int] | None:
    """ANY-of planning over the bloom sidecar: (surviving files, total)
    for a scan keeping only rows whose ``col`` is one of ``values`` —
    the key-set probe shape of a merge-on-read CONTESTED scan (which
    base files may hold a delta-touched key?). A file is dropped only
    when EVERY listed value provably never occurred in it (the Bloom
    no-false-negative guarantee per value); same stale-sidecar and
    ``base_only`` contract as :func:`prune_files_bloom`. ``values`` is
    a bounded driver-side set by construction (the resolver caps the
    collected delta key set)."""
    from async_pipes_spark.functions.sketches import bloom_positions_py
    from pyspark.sql.types import StructField, StructType

    if not values:
        raise ValueError("prune_files_bloom_any needs a non-empty value list")
    if any(v is None for v in values):
        raise ValueError("bloom pruning needs non-NULL probe values")
    if not base_only and mor_deltas(spark, path):
        return None  # sidecar covers base files only (see prune_files)
    version = manifest_version(spark, path)
    bd = _bloom_dir(path, version)
    sidecar = _bloom_sidecar_rows(spark, bd, col)
    if not sidecar:  # missing dir (None) or no rows for col ([])
        return None
    if len(sidecar) * len(values) > 2_000_000:
        # driver-probe budget: the worst case (no file admits any value)
        # is O(files × values × k) md5s on the driver — at 100 TB file
        # counts × a deep key set that is minutes of driver CPU for a
        # plan. Decline; the numeric stats in-list plan (a Spark job
        # over the sidecar) and the resolver's full contested scan stay
        # correct without it.
        return None
    data_dir = _resolve_table_path(spark, path)
    listed = _listed_files(spark, data_dir, path)
    if {r["file"] for r in sidecar} != set(listed):
        return None  # stale sidecar (plain dir rewritten in place)
    sch = (
        _dir_schema(spark, data_dir)
        if data_dir != path  # manifest version dirs are immutable
        else spark.read.parquet(data_dir).schema
    )
    if col not in sch.names:
        return None
    # render ALL probe values exactly as Spark's CAST(... AS STRING)
    # would — the strings the build side hashed (str(value) would
    # diverge on doubles/booleans/decimals). Integral/string probes
    # render driver-side (provably identical); anything else pays the
    # one Spark render job.
    dt = sch[col].dataType
    rendered = _render_probe_strings(spark, dt, values)
    if rendered is None:
        rendered = [
            r["k"]
            for r in spark.createDataFrame(
                [(v,) for v in values], StructType([StructField("v", dt)])
            )
            .select(F.col("v").cast("string").alias("k"))
            .collect()
        ]
    if any(k is None for k in rendered):
        raise ValueError(
            f"some probe values do not cast to column {col}'s type "
            f"{dt.simpleString()}"
        )
    kept = []
    for r in sidecar:
        bits = bytes(r["bits"])
        for k in rendered:
            hit = True
            for pos in bloom_positions_py(
                k, r["num_bits"], r["num_hashes"]
            ):
                if not (bits[pos // 8] >> (pos % 8)) & 1:
                    hit = False
                    break
            if hit:
                kept.append(r["file"])
                break
    return sorted(kept), len(listed)


#: collected-delta-key cap for contested-scan planning: above this the
#: planner skips key pruning (driver probe cost would grow linearly;
#: a backlog touching >4k distinct keys is overdue for compaction)
_MOR_CONTESTED_KEY_CAP = 4096


def _mor_contested_plan(
    spark, path: str, deltas: Sequence[str]
) -> list[str] | None:
    """BASE files that may hold a delta-touched key, for a VERSIONED
    merge-on-read contested scan — or None when unplannable (multi-
    column key, no usable sidecar, key set over the cap, unversioned
    spec where no contested base scan happens at all). Conservative by
    the sidecars' guarantees: a dropped file provably contains none of
    the delta keys, so no contested base row is lost. Probes the
    key-column BLOOM sidecar (any-of) and, for numeric keys, the
    footer-stats sidecar (in-list), intersecting survivors. A table
    with neither sidecar for its live base version returns None before
    the delta keys are collected."""
    from async_pipes_spark.sources.sinks import _read_mor_spec

    keys, vers, _, _ = _read_mor_spec(spark, path, deltas[0])
    if not vers or len(keys) != 1:
        return None
    version = manifest_version(spark, path)
    if not any(
        fs.exists(p)
        for fs, p, _ in (
            _hadoop_fs(spark, _bloom_dir(path, version)),
            _hadoop_fs(spark, _stats_dir(path, version)),
        )
    ):
        return None
    key = keys[0]
    dvals_df = (
        _read_immutable_dirs(spark, [f"{path}/_data/{d}" for d in deltas])
        .select(key)
        .where(F.col(key).isNotNull())
        .distinct()
    )
    rows = dvals_df.limit(_MOR_CONTESTED_KEY_CAP + 1).collect()
    if len(rows) > _MOR_CONTESTED_KEY_CAP:
        return None
    vals = [r[0] for r in rows]
    if not vals:
        return []  # no non-NULL delta keys: nothing is contested
    survivors: set[str] | None = None
    plan = prune_files_bloom_any(spark, path, key, vals, base_only=True)
    if plan is not None:
        survivors = set(plan[0])
    schema = _dir_schema(spark, _resolve_table_path(spark, path))
    if key in schema.names and isinstance(schema[key].dataType, _NUMERIC_TYPES):
        plan_in = prune_files_in(
            spark, path, key, [float(v) for v in vals], base_only=True
        )
        if plan_in is not None:
            survivors = (
                set(plan_in[0])
                if survivors is None
                else survivors & set(plan_in[0])
            )
    return sorted(survivors) if survivors is not None else None


def read_stats_pruned(spark, path: str, bounds: Bounds) -> DataFrame:
    """Scan ``path`` for rows inside ``bounds``, opening ONLY the
    files whose stats intersect them. Result is EXACTLY the plain
    ``read + filter`` (pruning is conservative; the residual predicate
    still applies row-level). Falls back to the plain filtered scan
    when no usable sidecar exists — stats are an optimization, never
    a correctness dependency. Under a merge-on-read backlog the BASE
    files still prune (the sidecar describes the immutable base
    version) and the resolved deltas union on top."""
    deltas = mor_deltas(spark, path)
    if deltas:
        kept_mor = prune_files(spark, path, bounds, base_only=True)
        return _residual(
            _mor_pruned_read(
                spark, path, deltas,
                kept_mor[0] if kept_mor is not None else None,
            ),
            bounds,
        )
    plan = prune_files(spark, path, bounds)
    if plan is None:
        return _residual(_resolved_read(spark, path), bounds)
    kept, _total = plan
    if not kept:
        # provably empty: keep the schema, scan nothing
        return _residual(_resolved_read(spark, path), bounds).where(
            F.lit(False)
        )
    sdir = _resolve_table_path(spark, path)
    # schema cache only for manifest base dirs (immutable); a PLAIN
    # parquet dir can be overwritten in place, so its schema may drift
    kept_df = (
        _read_immutable_dir(spark, *kept, schema_dir=sdir)
        if sdir != path
        else spark.read.parquet(*kept)
    )
    return _residual(kept_df, bounds)


# ---- per-file BLOOM sidecars (point-lookup skipping) -----------------

#: one row per (file, column): a packed little-endian bitset plus the
#: parameters the index was built with (refresh re-reads them)
BLOOM_SCHEMA = (
    "file string, col string, num_bits bigint, num_hashes bigint, "
    "bits_per_key bigint, bits binary"
)


def _bloom_dir(path: str, version: str | None) -> str:
    return f"{path}/_bloom/{version or 'flat'}"


def _file_uri_col():
    """``input_file_name()`` normalized to the Hadoop-qualified form
    :func:`_list_parquet_files` produces: local files come back as
    ``file:///p`` from the scan but ``file:/p`` from makeQualified —
    the sidecar must store the listing's form or every staleness check
    reads as stale. Remote URIs (scheme://authority/...) agree between
    the two already."""
    return F.regexp_replace(F.input_file_name(), "^file:/+", "file:/")


def write_file_bloom(
    spark,
    path: str,
    cols: Sequence[str],
    bits_per_key: int = 16,
    num_hashes: int = 4,
    max_bits: int = 1 << 23,
) -> int:
    """Per-FILE Bloom filters for point-lookup data skipping — the
    Delta bloom-index idiom, complementing the [min, max] sidecar: a
    selective equality probe on a HIGH-CARDINALITY, UNCLUSTERED column
    (where every file's min/max spans the whole domain and range
    stats prune nothing) opens only the files whose bloom admits the
    value. Positions come from the ONE shared md5 formula
    (:func:`~async_pipes_spark.functions.sketches._bloom_positions`);
    the planner replays its driver-side twin per file.

    Build shape (needs data pages, unlike footer stats — exactly like
    Delta, which computes bloom indexes at write): ONE scan projecting
    (input_file_name, key), a broadcast join of the tiny per-file
    sizing table (``bits_per_key`` × file rows, capped at
    ``max_bits``), the k md5 positions in whole-stage codegen, one
    distinct shuffle of (file, col, position) rows — bounded by
    distinct keys × k, never payloads — and a per-file Arrow kernel
    packs the bitset; the sidecar is ``num_bits/8`` bytes per
    (file, column). Keys are rendered via Spark's CAST(col AS STRING)
    — the probe renders through the same cast, or skipping would grow
    false negatives. A zero-row file or an all-NULL key column gets an
    explicit EMPTY filter row (probes never admit it — correct, it
    holds no matching row — and the staleness file-set check stays
    satisfiable). Returns the number of data files indexed."""
    import numpy as np
    import pandas as pd

    from async_pipes_spark.functions.sketches import _bloom_positions

    if _pmanifest_read(spark, path) is not None:
        raise ValueError(
            f"{path} is a PARTITIONED manifest table — bloom sidecars "
            "cover flat manifest tables and plain parquet directories"
        )
    if mor_deltas(spark, path):
        raise ValueError(
            f"{path} carries outstanding merge-on-read deltas — sidecars "
            "index base files only; fold the backlog first "
            "(compact_small_files / optimize_zorder), then build"
        )
    if bits_per_key < 1 or num_hashes < 1:
        raise ValueError("bits_per_key and num_hashes must be >= 1")
    data_dir = _resolve_table_path(spark, path)
    df = spark.read.parquet(data_dir)
    bad = [c for c in cols if c not in df.columns]
    if bad:
        raise ValueError(f"write_file_bloom: missing columns {bad}")
    version = manifest_version(spark, path)
    files = _list_parquet_files(spark, data_dir)
    # per-file sizing: bits_per_key × rows, capped; one tiny counts
    # aggregation (n_files rows), broadcast back onto the key scan
    sizes = (
        df.select(_file_uri_col().alias("file"))
        .groupBy("file")
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(
            "file",
            F.least(
                F.greatest(F.col("_n") * bits_per_key, F.lit(64)),
                F.lit(max_bits),
            ).alias("num_bits"),
        )
    )
    parts = []
    for c in cols:
        key = F.col(c).cast("string")
        rows = (
            df.select(_file_uri_col().alias("file"), key.alias("_k"))
            .where(F.col("_k").isNotNull())
            .join(F.broadcast(sizes), "file")
        )
        pos = F.explode(
            F.array(*_bloom_positions(["_k"], F.col("num_bits"), num_hashes))
        )
        parts.append(
            rows.select("file", "num_bits", pos.alias("pos"))
            .withColumn("col", F.lit(c))
            .distinct()
        )
    allpos = parts[0]
    for p in parts[1:]:
        allpos = allpos.unionByName(p)

    def pack(key, pdf):
        m = int(pdf["num_bits"].iloc[0])
        bits = np.zeros((m + 7) // 8, dtype=np.uint8)
        pos = pdf["pos"].to_numpy(dtype=np.int64)
        np.bitwise_or.at(
            bits, pos // 8, (1 << (pos % 8).astype(np.uint8)).astype(np.uint8)
        )
        return pd.DataFrame(
            {
                "file": [key[0]],
                "col": [key[1]],
                "num_bits": [m],
                "num_hashes": [num_hashes],
                "bits_per_key": [bits_per_key],
                "bits": [bits.tobytes()],
            }
        )

    out_dir = _bloom_dir(path, version)
    sidecar = allpos.groupBy("file", "col").applyInPandas(pack, BLOOM_SCHEMA)
    sidecar.coalesce(1).write.mode("overwrite").parquet(out_dir)
    # zero-row files and all-NULL key columns produced no row above —
    # without an explicit row the staleness check ({sidecar files} ==
    # {listed files}) would read the index as permanently stale
    have = {
        (r["file"], r["col"])
        for r in spark.read.parquet(out_dir).select("file", "col").collect()
    }
    # fail LOUDLY when the scan's input_file_name() URIs and the Hadoop
    # listing disagree (a table path with spaces / percent-encoded
    # characters: the scan reports the encoded URI, makeQualified the
    # decoded one, and _file_uri_col only normalizes slash count) —
    # otherwise every (file, col) looks missing, the staleness set-check
    # reads permanently stale, and the opted-in index dies silently
    extra = {f for f, _ in have} - set(files)
    if extra:
        fs, out_p, _ = _hadoop_fs(spark, out_dir)
        fs.delete(out_p, True)  # stale-by-construction — don't leave it
        raise ValueError(
            "write_file_bloom: scanned file URIs do not match the directory "
            f"listing (e.g. {sorted(extra)[0]!r} not in the listed set) — "
            "the table path needs URI escaping (space or percent-encoded "
            "characters), which this sidecar's file-identity comparison "
            "does not support; use a plain [A-Za-z0-9._/-] table path"
        )
    missing = [(f, c) for f in files for c in cols if (f, c) not in have]
    if missing:
        m_empty = 64
        empty = bytearray((m_empty + 7) // 8)
        spark.createDataFrame(
            [
                (f, c, m_empty, num_hashes, bits_per_key, bytes(empty))
                for f, c in missing
            ],
            BLOOM_SCHEMA,
        ).coalesce(1).write.mode("append").parquet(out_dir)
    return len(files)


def prune_files_bloom(
    spark, path: str, col: str, value, base_only: bool = False
) -> tuple[list[str], int] | None:
    """Point-lookup planning: (surviving files, total files) for an
    equality scan ``col = value``, or None when no usable bloom sidecar
    exists (missing, stale, or not covering ``col``). Conservative by
    the Bloom no-false-negative guarantee: a file is dropped only when
    some probe bit is UNSET — the value provably never occurred in it;
    false positives only keep extra files. The probe value is rendered
    through Spark's CAST(value AS <column type> AS STRING), matching
    the build side exactly (``str(value)`` would diverge on doubles,
    booleans, decimals — false negatives). The probe itself is
    driver-side arithmetic over the tiny sidecar (k md5 positions per
    file against its own bitset), reading ONLY the probed column's
    rows."""
    from async_pipes_spark.functions.sketches import bloom_positions_py

    if value is None:
        raise ValueError("bloom pruning needs a non-NULL probe value")
    if not base_only and mor_deltas(spark, path):
        return None  # sidecar covers base files only (see prune_files)
    version = manifest_version(spark, path)
    bd = _bloom_dir(path, version)
    sidecar = _bloom_sidecar_rows(spark, bd, col)
    if not sidecar:  # missing dir (None) or no rows for col ([])
        return None
    data_dir = _resolve_table_path(spark, path)
    listed = _listed_files(spark, data_dir, path)
    if {r["file"] for r in sidecar} != set(listed):
        return None  # stale sidecar (plain dir rewritten in place)
    sch = (
        _dir_schema(spark, data_dir)
        if data_dir != path  # manifest version dirs are immutable
        else spark.read.parquet(data_dir).schema
    )
    if col not in sch.names:
        return None
    fast = _render_probe_strings(spark, sch[col].dataType, [value])
    rendered = (
        fast[0]
        if fast is not None
        else (
            spark.range(1)
            .select(
                F.lit(value)
                .cast(sch[col].dataType)
                .cast("string")
                .alias("k")
            )
            .first()["k"]
        )
    )
    if rendered is None:
        raise ValueError(
            f"probe value {value!r} does not cast to column {col}'s type "
            f"{sch[col].dataType.simpleString()}"
        )
    kept = []
    for r in sidecar:
        bits = bytes(r["bits"])
        hit = True
        for pos in bloom_positions_py(
            rendered, r["num_bits"], r["num_hashes"]
        ):
            if not (bits[pos // 8] >> (pos % 8)) & 1:
                hit = False
                break
        if hit:
            kept.append(r["file"])
    return sorted(kept), len(listed)


def read_bloom_pruned(spark, path: str, col: str, value) -> DataFrame:
    """Equality scan ``col = value`` opening ONLY the files whose bloom
    admits the value; result is EXACTLY the plain filtered read (the
    residual equality still applies row-level; a missing/stale sidecar
    falls back to the plain scan — the index is an optimization, never
    a correctness dependency). Under a merge-on-read backlog the BASE
    files still prune (the sidecar describes the immutable base
    version) and the resolved deltas union on top."""
    deltas = mor_deltas(spark, path)
    if deltas:
        plan = prune_files_bloom(spark, path, col, value, base_only=True)
        return _mor_pruned_read(
            spark, path, deltas, plan[0] if plan is not None else None
        ).where(F.col(col) == F.lit(value))
    plan = prune_files_bloom(spark, path, col, value)
    base = _resolved_read(spark, path)
    if plan is None:
        return base.where(F.col(col) == F.lit(value))
    kept, _total = plan
    if not kept:
        return base.where(F.lit(False))
    sdir = _resolve_table_path(spark, path)
    kept_df = (
        _read_immutable_dir(spark, *kept, schema_dir=sdir)
        if sdir != path  # plain dirs are mutable: no schema cache
        else spark.read.parquet(*kept)
    )
    return kept_df.where(F.col(col) == F.lit(value))


# ---- the auto-pruning scan planner -----------------------------------


def scan_plan(
    spark,
    path: str,
    eq: Mapping | None = None,
    bounds: Bounds | None = None,
    base_only: bool = False,
) -> tuple[list[str] | None, int | None]:
    """PLAN a predicate scan of ``path``: (surviving files, total
    files), or ``(None, None)`` when no sidecar can prune (missing,
    stale, or — without ``base_only`` — a merge-on-read backlog, since
    no single file list IS the table then). With ``base_only=True``
    the plan covers the BASE version's files (sidecars stay valid for
    the immutable base) and the caller unions the resolved deltas —
    what :func:`scan` does automatically under a backlog. This is the
    single planning step behind :func:`scan`; it inspects the
    predicate SHAPE and consults every applicable sidecar,
    intersecting their survivor sets:

    - ``bounds`` (range predicates, and their conjunctions — the
      z-order-box case a Morton-clustered layout exists for) go to the
      footer-stats sidecar in ONE conjunctive intersect
      (:func:`prune_files`).
    - ``eq`` on a NUMERIC column additionally becomes the degenerate
      box ``[v, v]`` in that same stats intersect (on a clustered
      layout the range stats alone often settle it).
    - every ``eq`` column also probes the per-file BLOOM sidecar
      (:func:`prune_files_bloom`) — the planner for selective point
      lookups on high-cardinality, unclustered columns where range
      stats prune nothing.

    Each sidecar is optional: whichever exist contribute; the
    intersection of conservative survivor sets is conservative. A
    100 TB user calls :func:`scan` and gets whatever skipping the
    table's maintenance history (write_file_stats / write_file_bloom /
    optimize_zorder) has earned it."""
    eq = dict(eq or {})
    bounds = dict(bounds or {})
    if not eq and not bounds:
        raise ValueError("scan needs at least one eq or bounds predicate")
    if any(v is None for v in eq.values()):
        raise ValueError(
            "eq probes need non-NULL values (NULL never equals anything; "
            "filter is-null conditions on the returned DataFrame)"
        )
    overlap = set(eq) & set(bounds)
    if overlap:
        raise ValueError(f"columns in both eq and bounds: {sorted(overlap)}")

    survivors: set[str] | None = None
    total: int | None = None

    def intersect(plan) -> None:
        nonlocal survivors, total
        if plan is None:
            return
        kept, tot = plan
        total = tot
        survivors = set(kept) if survivors is None else survivors & set(kept)

    stat_bounds: dict = dict(bounds)
    if eq:
        schema = _resolved_read(spark, path).schema
        for c, v in eq.items():
            if c in schema.names and isinstance(
                schema[c].dataType, _NUMERIC_TYPES
            ):
                stat_bounds[c] = (v, v)
    if stat_bounds:
        intersect(prune_files(spark, path, stat_bounds, base_only=base_only))
    for c, v in eq.items():
        intersect(prune_files_bloom(spark, path, c, v, base_only=base_only))
    return (sorted(survivors) if survivors is not None else None, total)


def scan(
    spark,
    path: str,
    eq: Mapping | None = None,
    bounds: Bounds | None = None,
) -> DataFrame:
    """Predicate scan of a table path with AUTOMATIC data skipping:
    plans via :func:`scan_plan` (stats boxes for ranges and numeric
    equalities, bloom probes for equalities — whichever sidecars the
    table carries), opens only surviving files, and applies the FULL
    residual predicate row-level — so the result is always exactly the
    plain filtered read, with pruning as a pure optimization
    (conservative sidecars, resolved-read fallback when none apply).

    ``eq``: ``{col: value}`` equality conjuncts. ``bounds``:
    ``{col: (lo, hi)}`` closed ranges (``None`` = unbounded side).
    All conjuncts AND together.

    On a PARTITIONED manifest table, an equality on a partition column
    prunes through the generation MAPPING instead (only matching
    ``col=val`` subdirs are read — the partition-pruning every
    Hive-layout engine plans); other predicates apply as residuals.

    A merge-on-read backlog keeps the skipping ON (both flavors): the
    sidecars/mapping prune the immutable BASE on the untouched branch,
    the resolver unions the (small) resolved deltas, and contested
    keys resolve against the full base (a delta may move a key INTO
    the probed partition while its losing base row sits outside the
    pruned read — resolution needs every row of a contested key)."""
    pinfo = _pmanifest_read(spark, path)
    if pinfo is not None:
        return _scan_pmanifest(spark, path, pinfo, eq or {}, bounds or {})
    deltas = mor_deltas(spark, path)
    if deltas:
        # merge-on-read backlog: prune the BASE with the sidecars
        # (valid — the base version is immutable), resolve the (small)
        # deltas on top, re-apply the predicate row-level below. The
        # skipping layer stays ON exactly when the table is hottest.
        kept, _total = scan_plan(
            spark, path, eq=eq, bounds=bounds, base_only=True
        )
        df = _mor_pruned_read(spark, path, deltas, kept)
        for c, v in (eq or {}).items():
            df = df.where(F.col(c) == F.lit(v))
        return _residual(df, bounds or {})
    kept, _total = scan_plan(spark, path, eq=eq, bounds=bounds)
    if kept is None:
        df = _resolved_read(spark, path)
    elif not kept:
        # provably empty: keep the schema, scan nothing
        df = _resolved_read(spark, path).where(F.lit(False))
    else:
        df = spark.read.parquet(*kept)
    for c, v in (eq or {}).items():
        df = df.where(F.col(c) == F.lit(v))
    return _residual(df, bounds or {})


def _scan_pmanifest(
    spark, path: str, pinfo, eq: Mapping, bounds: Bounds
) -> DataFrame:
    """The partitioned-manifest arm of :func:`scan`: equality conjuncts
    on PARTITION columns restrict the generation mapping to matching
    ``col=val`` subdirs before any file opens; everything (including
    the partition equalities — dir naming stringifies values, so the
    row-level filter is the authority) applies as a residual. Falls
    back to the full resolved read when no partition equality exists
    or a merge-on-read backlog is outstanding."""
    from async_pipes_spark.sources.sinks import (
        _partition_subdir,
        _pmanifest_mapping,
        _read_pmapping,
        _state_base,
        _state_deltas,
    )

    eq = dict(eq)
    bounds = dict(bounds)
    if not eq and not bounds:
        raise ValueError("scan needs at least one eq or bounds predicate")
    if any(v is None for v in eq.values()):
        raise ValueError(
            "eq probes need non-NULL values (NULL never equals anything; "
            "filter is-null conditions on the returned DataFrame)"
        )
    overlap = set(eq) & set(bounds)
    if overlap:
        raise ValueError(f"columns in both eq and bounds: {sorted(overlap)}")

    def residual(df: DataFrame) -> DataFrame:
        for c, v in eq.items():
            df = df.where(F.col(c) == F.lit(v))
        return _residual(df, bounds)

    live = pinfo[0][0]
    pcols = pinfo[2]
    deltas = _state_deltas(live)
    eq_p = {c: v for c, v in eq.items() if c in pcols}
    if not eq_p:
        return residual(_resolved_read(spark, path))
    # expected `col=val` segment per probed partition column, rendered
    # exactly as the write side renders subdirs; unescapable values
    # can't name a subdir, so nothing can match — provably empty (for
    # the BASE; a delta row can still carry the value as an ordinary
    # column, so under a backlog fall back to the resolved read)
    try:
        segs = {
            c: _partition_subdir([c], {c: v}) for c, v in eq_p.items()
        }
    except ValueError:
        if deltas:
            return residual(_resolved_read(spark, path))
        return residual(_resolved_read(spark, path)).where(F.lit(False))
    mapping = _pmanifest_mapping(spark, path, _state_base(live))
    pruned = {
        sd: v
        for sd, v in mapping.items()
        if all(seg in sd.split("/") for seg in segs.values())
    }
    if deltas:
        # merge-on-read backlog: the mapping prune stays ON for the
        # UNTOUCHED branch (its dropped rows sit in non-matching
        # partitions — the residual drops them anyway); contested keys
        # resolve against the FULL generation read inside the resolver
        # (a delta may move a key INTO the probed partition; its losing
        # base row outside the prune must still outrank a staler delta)
        from async_pipes_spark.sources.sinks import (
            _mor_resolve,
            _read_pmapping as _rp,
        )

        full = _rp(spark, path, mapping)
        kept_df = (
            _rp(spark, path, pruned) if pruned else full.where(F.lit(False))
        )
        return residual(
            _mor_resolve(spark, path, full, deltas, untouched_base=kept_df)
        )
    if not pruned:
        # no live partition matches: keep the schema, scan nothing
        return residual(_read_pmapping(spark, path, mapping)).where(
            F.lit(False)
        )
    return residual(_read_pmapping(spark, path, pruned))
