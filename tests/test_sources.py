"""Connector tests: file readers/writers round-trip, bucketed tables,
and the executor-side Python DataSource producer."""

from pyspark.sql import functions as F

from async_pipes_spark.sources.files import read_csv, read_json, read_parquet
from async_pipes_spark.sources.pyproducer import producer_source
from async_pipes_spark.sources.sinks import write_files


def test_parquet_csv_json_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5), (3, "c", None)],
        "id: bigint, s: string, x: double",
    )
    for fmt, reader in [
        ("parquet", read_parquet),
        ("csv", read_csv),
        ("json", read_json),
    ]:
        path = str(tmp_path / fmt)
        write_files(df, path, fmt=fmt)
        back = reader(spark, path, schema="id bigint, s string, x double")
        assert sorted((r.id, r.s, r.x) for r in back.collect()) == sorted(
            (r.id, r.s, r.x) for r in df.collect()
        ), fmt


def test_partitioned_write_prunes(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, "even" if i % 2 == 0 else "odd") for i in range(100)],
        "id: bigint, parity: string",
    )
    path = str(tmp_path / "parts")
    write_files(df, path, partition_by=["parity"])
    back = read_parquet(spark, path).filter(F.col("parity") == "even")
    assert back.count() == 50
    # partition pruning reaches the scan
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.explain("formatted")
    txt = buf.getvalue()
    assert "PartitionFilters" in txt and "parity" in txt.split("PartitionFilters", 1)[1].splitlines()[0]


def test_executor_side_producer(spark):
    """The reference's dynamic producer (pull-until-None closures) at
    scale: generators run per-partition on executors via the Python
    DataSource API."""

    def gen(part, n_parts):
        return iter((part * 100 + i,) for i in range(100))

    df = producer_source(spark, "gen", gen, "value bigint", num_partitions=4).load()
    assert df.count() == 400
    assert df.agg(F.sum("value")).head()[0] == 79800


def test_csv_json_roundtrip(spark, tmp_path):
    """write_files + read_csv/read_json roundtrip with explicit
    schemas (no inference scan on the read side)."""
    from async_pipes_spark.sources.files import read_csv, read_json
    from async_pipes_spark.sources.sinks import write_files

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", -2.25), (3, None, 0.0)],
        "id: bigint, name: string, score: double",
    )
    csv_path, json_path = str(tmp_path / "c"), str(tmp_path / "j")
    write_files(df, csv_path, fmt="csv")
    write_files(df, json_path, fmt="json")
    schema = "id bigint, name string, score double"
    back_csv = read_csv(spark, csv_path, schema=schema)
    back_json = read_json(spark, json_path, schema=schema)
    want = sorted(map(tuple, df.collect()))
    assert sorted(map(tuple, back_csv.collect())) == want
    assert sorted(map(tuple, back_json.collect())) == want


def test_stream_producer_unbounded_closure(spark, tmp_path):
    """The reference's INFINITE with_producer closure, as a real
    streaming source (Spark 4 Python DataSource, offset-tracked):
    fn(i) -> row i forever; pipe_buffer_size bounds pulls per
    micro-batch; stopping the query is the Terminate signal. Drains
    deterministically: after >= 3 micro-batches of 10 rows each, the
    sink holds exactly the prefix 0..n-1."""
    import time

    from async_pipes_spark.pipeline.options import WorkerOptions
    from async_pipes_spark.sources.pyproducer import stream_producer_source

    df = stream_producer_source(
        spark,
        fn=lambda i: (i, i * i),
        schema="n bigint, sq bigint",
        options=WorkerOptions(pipe_buffer_size=10),
    )
    assert df.isStreaming
    name = "stream_producer_sink"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.table(name).count() >= 30:
                break
            time.sleep(0.5)
        rows = sorted((r.n, r.sq) for r in spark.table(name).collect())
        assert len(rows) >= 30
        assert rows == [(i, i * i) for i in range(len(rows))]  # exact prefix, no gaps/dupes
        # each batch admitted at most pipe_buffer_size rows
        for p in q.recentProgress:
            assert p["numInputRows"] <= 10
    finally:
        q.stop()


def test_stream_producer_finite_closure_ends(spark, tmp_path):
    """A finite closure (None at i=25) drains fully under availableNow
    batching and stops producing: the sink holds exactly 25 rows."""
    import time

    from async_pipes_spark.pipeline.options import WorkerOptions
    from async_pipes_spark.sources.pyproducer import stream_producer_source

    df = stream_producer_source(
        spark,
        fn=lambda i: (i,) if i < 25 else None,
        schema="n bigint",
        options=WorkerOptions(pipe_buffer_size=10),
    )
    name = "stream_producer_finite"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.table(name).count() >= 25:
                break
            time.sleep(0.5)
        time.sleep(2)  # extra triggers must add nothing
        assert spark.table(name).count() == 25
    finally:
        q.stop()


def test_merge_upsert_replaces_keeps_appends(spark, tmp_path):
    """MERGE semantics on a flat manifest table: same-key rows
    replaced, unmatched target rows kept, new keys appended; committed
    as a fresh version through the pointer."""
    from async_pipes_spark.sources.sinks import merge_upsert, read_table

    tgt = str(tmp_path / "tbl")
    _seed(spark, tgt, spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k bigint, s string, v bigint"
    ).coalesce(1))
    updates = spark.createDataFrame(
        [(2, "B", 200), (9, "z", 90)], "k bigint, s string, v bigint"
    )
    merge_upsert(spark, tgt, updates, ["k"])
    got = sorted(tuple(r) for r in read_table(spark, tgt).collect())
    assert got == [(1, "a", 10), (2, "B", 200), (3, "c", 30), (9, "z", 90)]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="schema mismatch"):
        merge_upsert(spark, tgt, updates.drop("v"), ["k"])


def test_compact_small_files(spark, tmp_path):
    """Dust (a live version of 20 single-row files) compacts to one
    file with identical contents."""
    from async_pipes_spark.sources.sinks import compact_small_files, read_table

    p = str(tmp_path / "dust")
    _seed(spark, p, spark.range(0, 20, 1, 20).select(F.col("id").alias("n")))
    before = len(_data_files(p))
    assert before >= 20
    nfiles = compact_small_files(spark, p, target_rows_per_file=1000)
    assert nfiles == 1
    assert sorted(r.n for r in read_table(spark, p).collect()) == list(range(20))


def _seed(spark, path, df, partition_by=None):
    """Create a mutable (manifest) table: flat, or partitioned by
    ``partition_by``."""
    from async_pipes_spark.sources.sinks import (
        write_manifest_table,
        write_partitioned_manifest_table,
    )

    if partition_by:
        write_partitioned_manifest_table(spark, df, path, partition_by)
    else:
        write_manifest_table(spark, df, path)


def _live_mapping(spark, path):
    """{partition subdir: version dir} of a partitioned manifest's live
    generation."""
    from async_pipes_spark.sources.sinks import (
        _pmanifest_mapping,
        partitioned_manifest_generations,
    )

    live = partitioned_manifest_generations(spark, path)[0]
    return _pmanifest_mapping(spark, path, live.split("+")[0])


def _data_files(root):
    import os

    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                out[os.path.relpath(p, root)] = os.path.getmtime(p)
    return out


def test_merge_upsert_partitioned_rewrites_only_touched_partitions(spark, tmp_path):
    """The partitioned path rewrites only TOUCHED partitions: a merge
    whose updates all land in partition p=2 repoints p=2 at a fresh
    version, and every other partition keeps its mapped version (its
    files are not rewritten)."""
    from async_pipes_spark.sources.sinks import merge_upsert, read_table

    tgt = str(tmp_path / "ptbl")
    _seed(spark, tgt, spark.createDataFrame(
        [(k, k % 4, k * 10) for k in range(40)], "k bigint, p bigint, v bigint"
    ).repartition(4), ["p"])
    before = _live_mapping(spark, tgt)

    updates = spark.createDataFrame([(2, 2, 999), (102, 2, 111)], "k bigint, p bigint, v bigint")
    merge_upsert(spark, tgt, updates, ["k"], partition_by=["p"])

    after = _live_mapping(spark, tgt)
    untouched_before = {sd: v for sd, v in before.items() if sd != "p=2"}
    untouched_after = {sd: v for sd, v in after.items() if sd != "p=2"}
    assert len(untouched_before) == 3
    assert untouched_before == untouched_after  # same versions, not rewritten
    assert after["p=2"] != before["p=2"]
    got = {r.k: (r.p, r.v) for r in read_table(spark, tgt).collect()}
    assert got[2] == (2, 999)  # replaced
    assert got[102] == (2, 111)  # appended
    assert got[6] == (2, 60)  # same-partition non-matching key survives
    assert len(got) == 41


def test_merge_upsert_failed_write_never_corrupts_target(spark, tmp_path):
    """A write that fails MID-JOB (throwing UDF in the update plan)
    must leave the target exactly as it was — both manifest layouts:
    no commit lands (the pointer seq is unchanged) and the rows read
    back unchanged."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from async_pipes_spark.sources.sinks import (
        _raw_pointer_seq,
        merge_upsert,
        read_table,
    )

    @F.udf("bigint")
    def boom(x):
        raise RuntimeError("boom")

    def snapshot(path):
        rows = sorted(tuple(r) for r in read_table(spark, path).collect())
        return _raw_pointer_seq(spark, path), rows

    # flat manifest
    tgt = str(tmp_path / "tbl")
    _seed(spark, tgt, spark.createDataFrame(
        [(1, 10), (2, 20)], "k bigint, v bigint"
    ).coalesce(1))
    before = snapshot(tgt)
    bad = spark.createDataFrame([(2,)], "k bigint").withColumn("v", boom("k"))
    with _pytest.raises(Exception, match="boom|Job aborted|PythonException"):
        merge_upsert(spark, tgt, bad, ["k"])
    assert snapshot(tgt) == before

    # partitioned manifest
    ptgt = str(tmp_path / "ptbl")
    _seed(spark, ptgt, spark.createDataFrame(
        [(1, 0, 10), (2, 1, 20)], "k bigint, p bigint, v bigint"
    ).repartition(1), ["p"])
    pbefore = snapshot(ptgt)
    pbad = spark.createDataFrame([(2, 1)], "k bigint, p bigint").withColumn("v", boom("k"))
    with _pytest.raises(Exception, match="boom|Job aborted|PythonException"):
        merge_upsert(spark, ptgt, pbad, ["k"], partition_by=["p"])
    assert snapshot(ptgt) == pbefore


def test_two_producers_keep_their_own_closures(spark, tmp_path):
    """Registration is name-keyed and last-write-wins in Spark's
    DataSource registry: under a fixed name, a second producer created
    before the first one STARTS would rebind the name and the first
    stream would silently read the second closure. Unique per-call
    names must keep both bindings live — batch and streaming."""
    import time

    from async_pipes_spark.pipeline.options import WorkerOptions
    from async_pipes_spark.sources.pyproducer import (
        producer_source,
        stream_producer_source,
    )

    # batch: build both loaders BEFORE loading either
    a = producer_source(spark, "a", lambda p, n: iter([(111,)]), "v bigint")
    b = producer_source(spark, "b", lambda p, n: iter([(222,)]), "v bigint")
    assert [r.v for r in a.load().collect()] == [111]
    assert [r.v for r in b.load().collect()] == [222]

    # streaming: create both streams, then start the FIRST
    s1 = stream_producer_source(
        spark, fn=lambda i: (1,) if i < 5 else None, schema="v bigint",
        options=WorkerOptions(pipe_buffer_size=5),
    )
    s2 = stream_producer_source(
        spark, fn=lambda i: (2,) if i < 5 else None, schema="v bigint",
        options=WorkerOptions(pipe_buffer_size=5),
    )
    for tag, stream, want in (("one", s1, 1), ("two", s2, 2)):
        q = (
            stream.writeStream.format("memory")
            .queryName(f"closure_probe_{tag}")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{tag}"))
            .start()
        )
        try:
            deadline = time.time() + 60
            while time.time() < deadline:
                if spark.table(f"closure_probe_{tag}").count() >= 5:
                    break
                time.sleep(0.5)
            vals = {r.v for r in spark.table(f"closure_probe_{tag}").collect()}
            assert vals == {want}, f"stream {tag} read the wrong closure: {vals}"
        finally:
            q.stop()


def test_merge_upsert_partitioned_key_move_and_stable_flag(spark, tmp_path):
    """An update that MOVES a key to a different partition must rewrite
    the key's OLD partition too (or the stale row survives as a
    duplicate); keys_partition_stable=True skips that old-partition
    scan and correctly applies when keys never move."""
    from async_pipes_spark.sources.sinks import merge_upsert, read_table

    tgt = str(tmp_path / "mvtbl")
    _seed(spark, tgt, spark.createDataFrame(
        [(1, 1, 10), (2, 2, 20), (3, 1, 30)], "k bigint, p bigint, v bigint"
    ), ["p"])

    # key 1 moves from p=1 to p=2
    merge_upsert(
        spark,
        tgt,
        spark.createDataFrame([(1, 2, 99)], "k bigint, p bigint, v bigint"),
        ["k"],
        partition_by=["p"],
    )
    got = sorted((r.k, r.p, r.v) for r in read_table(spark, tgt).collect())
    assert got == [(1, 2, 99), (2, 2, 20), (3, 1, 30)]  # no duplicate key 1

    # in-place update with the stable flag: old partition scan skipped
    merge_upsert(
        spark,
        tgt,
        spark.createDataFrame([(3, 1, 77)], "k bigint, p bigint, v bigint"),
        ["k"],
        partition_by=["p"],
        keys_partition_stable=True,
    )
    got = sorted((r.k, r.p, r.v) for r in read_table(spark, tgt).collect())
    assert got == [(1, 2, 99), (2, 2, 20), (3, 1, 77)]


def test_merge_upsert_partitioned_null_partition_survives(spark, tmp_path):
    """A NULL partition value must not black-hole surviving rows: the
    touched-partition predicate is null-safe, so merging into the NULL
    partition keeps its unmatched keys."""
    from async_pipes_spark.sources.sinks import merge_upsert, read_table

    tgt = str(tmp_path / "nulltbl")
    _seed(spark, tgt, spark.createDataFrame(
        [(1, None, 10), (2, None, 20), (3, 5, 30)],
        "k bigint, p bigint, v bigint",
    ), ["p"])

    merge_upsert(
        spark,
        tgt,
        spark.createDataFrame([(1, None, 99)], "k bigint, p bigint, v bigint"),
        ["k"],
        partition_by=["p"],
    )
    got = sorted(
        (r.k, r.p, r.v) for r in read_table(spark, tgt).collect()
    )
    assert got == [(1, None, 99), (2, None, 20), (3, 5, 30)]


def test_stream_producer_exactly_once_across_restart(spark, tmp_path):
    """Kill-and-restart recovery: stop a checkpointed stream mid-way
    (a real mid-stream stop, asserted), then resume from the SAME
    checkpoint with a NEW producer instance (fresh uuid source name).
    The replayable offset contract (fn(i) -> row i) must hand the
    restarted query exactly the uncommitted tail: the parquet sink
    ends with every row 0..N-1 exactly once — no duplicates at the
    batch boundary, no gaps."""
    import time

    from async_pipes_spark.pipeline.options import WorkerOptions
    from async_pipes_spark.sources.pyproducer import stream_producer_source

    n_total = 300
    data, ckpt = str(tmp_path / "data"), str(tmp_path / "ckpt")

    def make_stream():
        return stream_producer_source(
            spark,
            fn=lambda i: (i,) if i < n_total else None,
            schema="n bigint",
            options=WorkerOptions(pipe_buffer_size=10),
        )

    q = (
        make_stream()
        .writeStream.format("parquet")
        .option("path", data)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(processingTime="400 milliseconds")
        .start()
    )
    deadline = time.time() + 60
    mid = 0
    while time.time() < deadline:
        try:
            mid = spark.read.parquet(data).count()
        except Exception:
            mid = 0
        if mid >= 30:
            break
        time.sleep(0.3)
    q.stop()
    mid = spark.read.parquet(data).count()
    assert 30 <= mid < n_total, f"stop was not mid-stream: {mid} rows"

    # resume on a processing-time trigger: availableNow would bound
    # itself to the checkpoint's pending batch (replay-then-stop), so
    # poll the sink to full drain instead — the restart must pick up
    # at the exact uncommitted offset either way
    q2 = (
        make_stream()
        .writeStream.format("parquet")
        .option("path", data)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            if spark.read.parquet(data).count() >= n_total:
                break
            time.sleep(0.5)
    finally:
        q2.stop()
    rows = sorted(r.n for r in spark.read.parquet(data).collect())
    assert rows == list(range(n_total)), (
        f"n={len(rows)} uniq={len(set(rows))} head={rows[:5]} tail={rows[-5:]}"
    )


def test_merge_upsert_emptied_partition_is_removed(spark, tmp_path):
    """A key that is its partition's ONLY row moving elsewhere: the
    rewrite writes no rows into the old partition, so the emptied
    partition must leave the live mapping — otherwise the stale row
    survives as a duplicate key."""
    from async_pipes_spark.sources.sinks import merge_upsert, read_table

    tgt = str(tmp_path / "emptytbl")
    _seed(spark, tgt, spark.createDataFrame(
        [(1, 1, 10), (2, 2, 20)], "k bigint, p bigint, v bigint"
    ), ["p"])

    merge_upsert(
        spark,
        tgt,
        spark.createDataFrame([(1, 2, 99)], "k bigint, p bigint, v bigint"),
        ["k"],
        partition_by=["p"],
    )
    got = sorted((r.k, r.p, r.v) for r in read_table(spark, tgt).collect())
    assert got == [(1, 2, 99), (2, 2, 20)]  # no stale (1,1,10)
    assert "p=1" not in _live_mapping(spark, tgt)


def test_producer_registry_reuses_name_per_closure(spark):
    """Building many producers around the SAME closure+params must not
    grow the DataSource registry: one registration per distinct
    configuration; a different parameterization gets its own name."""
    from async_pipes_spark.sources.pyproducer import (
        make_stream_producer_datasource,
    )

    fn = lambda i: (i,) if i < 5 else None  # noqa: E731
    names = {make_stream_producer_datasource(fn, 10).name() for _ in range(25)}
    assert len(names) == 1
    other = make_stream_producer_datasource(fn, 20).name()
    assert other not in names  # different batch size -> own binding


def test_merge_upsert_multi_column_partitions(spark, tmp_path):
    """Two partition columns: key moves across the (p, q) lattice must
    rewrite both ends, and an emptied leaf partition leaves the live
    mapping."""
    from async_pipes_spark.sources.sinks import merge_upsert, read_table

    tgt = str(tmp_path / "mc")
    _seed(spark, tgt, spark.createDataFrame(
        [(1, 1, 10, 100), (2, 1, 20, 200), (3, 2, 20, 300)],
        "k bigint, p bigint, q bigint, v bigint",
    ), ["p", "q"])

    # key 3 moves (2,20) -> (1,10); (2,20) becomes empty
    merge_upsert(
        spark,
        tgt,
        spark.createDataFrame([(3, 1, 10, 999)], "k bigint, p bigint, q bigint, v bigint"),
        ["k"],
        partition_by=["p", "q"],
    )
    got = sorted((r.k, r.p, r.q, r.v) for r in read_table(spark, tgt).collect())
    assert got == [(1, 1, 10, 100), (2, 1, 20, 200), (3, 1, 10, 999)]
    assert "p=2/q=20" not in _live_mapping(spark, tgt)


def test_merge_upsert_versioned_last_writer_wins(spark, tmp_path):
    """version_cols CDC resolution: a matched key keeps whichever row
    has the greater version tuple — target or update — and equal
    versions prefer the update; multiple update rows for one key
    self-resolve; NULL versions lose to any non-NULL."""
    from async_pipes_spark.sources.sinks import merge_upsert, read_table

    tgt = str(tmp_path / "v")
    _seed(spark, tgt, spark.createDataFrame(
        [(1, 5, "old1"), (2, 5, "old2"), (3, 5, "old3"), (4, None, "old4")],
        "k bigint, ver bigint, s string",
    ).coalesce(1))
    updates = spark.createDataFrame(
        [
            (1, 9, "new1"),      # newer -> update wins
            (2, 3, "stale2"),    # older -> target survives
            (3, 5, "tie3"),      # tie -> update wins
            (4, 1, "new4"),      # target version NULL -> update wins
            (5, 2, "first5a"),   # new key, two rows in one batch:
            (5, 7, "first5b"),   # greater version wins
        ],
        "k bigint, ver bigint, s string",
    )
    merge_upsert(spark, tgt, updates, ["k"], version_cols=["ver"])
    got = sorted((r.k, r.s) for r in read_table(spark, tgt).collect())
    assert got == [
        (1, "new1"), (2, "old2"), (3, "tie3"), (4, "new4"), (5, "first5b"),
    ]


def test_merge_upsert_versioned_commutes_over_batch_order(spark, tmp_path):
    """The versioned merge's defining property: applying the same set
    of update batches in ANY order converges to the same final table —
    what lets a streaming foreachBatch sink survive out-of-order
    delivery and replays (s20's contract)."""
    import itertools

    from async_pipes_spark.sources.sinks import merge_upsert, read_table

    batches = [
        [(1, 10, "a1"), (2, 20, "a2")],
        [(1, 30, "b1"), (3, 5, "b3")],
        [(2, 15, "c2"), (3, 25, "c3"), (4, 1, "c4")],
    ]
    finals = []
    for i, order in enumerate(itertools.permutations(range(3))):
        tgt = str(tmp_path / f"o{i}")
        _seed(spark, tgt, spark.createDataFrame(
            [(1, 0, "seed1")], "k bigint, ver bigint, s string"
        ).coalesce(1))
        for bi in order:
            updates = spark.createDataFrame(
                batches[bi], "k bigint, ver bigint, s string"
            )
            merge_upsert(spark, tgt, updates, ["k"], version_cols=["ver"])
        finals.append(sorted(tuple(r) for r in read_table(spark, tgt).collect()))
    assert all(f == finals[0] for f in finals[1:])
    assert finals[0] == [(1, 30, "b1"), (2, 20, "a2"), (3, 25, "c3"), (4, 1, "c4")]


def test_merge_upsert_versioned_partitioned_stale_move_ignored(spark, tmp_path):
    """Partitioned + versioned: a STALE update that would move a key to
    another partition must lose — the existing row stays in its
    partition and the update's target partition gains nothing (it
    never enters the live mapping if it only existed for the loser)."""
    from async_pipes_spark.sources.sinks import merge_upsert, read_table

    tgt = str(tmp_path / "pv")
    _seed(spark, tgt, spark.createDataFrame(
        [(1, "x", 9, "cur"), (2, "y", 1, "other")],
        "k bigint, p string, ver bigint, s string",
    ).coalesce(1), ["p"])
    # stale update tries to move k=1 from p=x to p=z
    merge_upsert(
        spark,
        tgt,
        spark.createDataFrame(
            [(1, "z", 3, "stale")], "k bigint, p string, ver bigint, s string"
        ),
        ["k"],
        partition_by=["p"],
        version_cols=["ver"],
    )
    got = sorted((r.k, r.p, r.ver, r.s) for r in read_table(spark, tgt).collect())
    assert got == [(1, "x", 9, "cur"), (2, "y", 1, "other")]
    assert "p=z" not in _live_mapping(spark, tgt)
    # and a FRESH move does relocate the row
    merge_upsert(
        spark,
        tgt,
        spark.createDataFrame(
            [(1, "z", 12, "moved")], "k bigint, p string, ver bigint, s string"
        ),
        ["k"],
        partition_by=["p"],
        version_cols=["ver"],
    )
    got = sorted((r.k, r.p, r.s) for r in read_table(spark, tgt).collect())
    assert got == [(1, "z", "moved"), (2, "y", "other")]
    assert "p=x" not in _live_mapping(spark, tgt)


def test_merge_upsert_versioned_equal_version_tiebreak_deterministic(spark, tmp_path):
    """Two update rows with EQUAL version tuples but different payloads
    must resolve identically on every run and partitioning (full-row
    hash tiebreak) — replay safety for at-least-once delivery."""
    from async_pipes_spark.sources.sinks import merge_upsert, read_table

    results = []
    for i, parts in enumerate([1, 7]):
        tgt = str(tmp_path / f"t{i}")
        _seed(spark, tgt, spark.createDataFrame(
            [(1, 0, "seed")], "k bigint, ver bigint, s string"
        ).coalesce(1))
        updates = spark.createDataFrame(
            [(1, 5, "payloadA"), (1, 5, "payloadB")],
            "k bigint, ver bigint, s string",
        ).repartition(parts)
        merge_upsert(spark, tgt, updates, ["k"], version_cols=["ver"])
        results.append(sorted(tuple(r) for r in read_table(spark, tgt).collect()))
    assert results[0] == results[1]
    assert len(results[0]) == 1


def test_merge_upsert_tombstone_deletes_with_version_resolution(spark, tmp_path):
    """CDC deletes: a winning tombstone removes the key; a STALE
    tombstone loses to newer data; a tombstone for an absent key is a
    no-op; the flag column never reaches the stored table; NULL flags
    count as live; tombstones without version_cols are rejected."""
    import pytest as _pytest

    from async_pipes_spark.sources.sinks import merge_upsert, read_table

    tgt = str(tmp_path / "cdc")
    _seed(spark, tgt, spark.createDataFrame(
        [(1, 5, "a"), (2, 5, "b"), (3, 5, "c")], "k bigint, ver bigint, s string"
    ).coalesce(1))
    updates = spark.createDataFrame(
        [
            (1, 9, "x", True),     # newer tombstone -> k=1 deleted
            (2, 3, "y", True),     # stale tombstone -> k=2 survives as 'b'
            (3, 9, "z", None),     # NULL flag = live upsert
            (4, 1, "w", True),     # delete of absent key -> no-op
            (5, 2, "v", False),    # plain insert
        ],
        "k bigint, ver bigint, s string, dead boolean",
    )
    # hard mode: the key vanishes and no flag column is stored
    merge_upsert(
        spark, tgt, updates, ["k"], version_cols=["ver"],
        tombstone_col="dead", retain_tombstones=False,
    )
    out = read_table(spark, tgt)
    assert "dead" not in out.columns
    got = sorted((r.k, r.s) for r in out.collect())
    assert got == [(2, "b"), (3, "z"), (5, "v")]

    with _pytest.raises(ValueError, match="tombstone_col requires version_cols"):
        merge_upsert(spark, tgt, updates, ["k"], tombstone_col="dead")


def test_merge_upsert_tombstone_commutes_and_partitioned(spark, tmp_path):
    """Delete/upsert races converge to the same table in ANY batch
    order — the property that needs RETAINED tombstones: a hard delete
    forgets its version, so a stale upsert replayed after it would
    resurrect the key (that exact divergence was observed before
    retention existed). Runs the partitioned path, including a stale
    cross-partition move losing to the delete."""
    import itertools

    from async_pipes_spark.sources.sinks import merge_upsert, read_table

    batches = [
        [(1, "x", 10, "up1", False)],
        [(1, "x", 20, None, True)],    # delete at ver 20
        [(1, "y", 15, "up2", False)],  # stale move must LOSE to the delete
    ]
    finals = []
    for i, order in enumerate(itertools.permutations(range(3))):
        tgt = str(tmp_path / f"o{i}")
        _seed(spark, tgt, spark.createDataFrame(
            [(1, "x", 0, "seed"), (2, "y", 0, "other")],
            "k bigint, p string, ver bigint, s string",
        ).coalesce(1), ["p"])
        for bi in order:
            merge_upsert(
                spark,
                tgt,
                spark.createDataFrame(
                    batches[bi], "k bigint, p string, ver bigint, s string, dead boolean"
                ),
                ["k"],
                partition_by=["p"],
                version_cols=["ver"],
                tombstone_col="dead",
            )
        # stored NULL flag == live (untouched partitions keep their
        # pre-tombstone file schema) — normalize like a reader would
        finals.append(
            sorted((r.k, r.p, r.ver, r.s, bool(r.dead))
                   for r in read_table(spark, tgt).collect())
        )
    assert all(f == finals[0] for f in finals[1:]), finals
    # k=1 survives only as its ver-20 soft tombstone; k=2 untouched
    assert finals[0] == [
        (1, "x", 20, None, True),
        (2, "y", 0, "other", False),
    ]
    # the live view readers consume
    live = read_table(spark, str(tmp_path / "o0")).filter(
        "NOT coalesce(dead, false)"
    )
    assert [r.k for r in live.collect()] == [2]


def test_purge_tombstones_drops_only_past_horizon(spark, tmp_path):
    """purge_tombstones: rows flagged dead AND past the horizon are
    removed; younger tombstones and live rows (incl. NULL flags)
    survive; count returned; nothing to purge commits nothing."""
    from pyspark.sql import functions as F

    from async_pipes_spark.sources.sinks import (
        _raw_pointer_seq,
        purge_tombstones,
        read_table,
    )

    tgt = str(tmp_path / "pt")
    _seed(spark, tgt, spark.createDataFrame(
        [
            (1, 10, "old-dead", True),
            (2, 90, "young-dead", True),
            (3, 10, "old-live", False),
            (4, 10, "null-flag", None),
        ],
        "k bigint, ver bigint, s string, dead boolean",
    ).coalesce(1))
    purged = purge_tombstones(spark, tgt, "dead", horizon=F.col("ver") < 50)
    assert purged == 1
    got = sorted(r.k for r in read_table(spark, tgt).collect())
    assert got == [2, 3, 4]
    # no horizon: every tombstone goes
    assert purge_tombstones(spark, tgt, "dead") == 1
    assert sorted(r.k for r in read_table(spark, tgt).collect()) == [3, 4]
    # nothing to purge -> no rewrite, returns 0
    seq = _raw_pointer_seq(spark, tgt)
    assert purge_tombstones(spark, tgt, "dead") == 0
    assert _raw_pointer_seq(spark, tgt) == seq

    import pytest as _pytest

    with _pytest.raises(ValueError, match="not in table"):
        purge_tombstones(spark, tgt, "nope")


def test_merge_upsert_tombstone_survives_schema_inference_order(spark, tmp_path):
    """Finding from live repro: when the untouched pre-tombstone
    partition sorts BEFORE the rewritten one, default parquet schema
    inference drops the flag column and the next merge resurrects the
    deleted key as live. The engine must read with mergeSchema."""
    from async_pipes_spark.sources.sinks import merge_upsert, read_table

    tgt = str(tmp_path / "si")
    _seed(spark, tgt, spark.createDataFrame(
        [(1, "a", 0, "seed-a"), (2, "z", 0, "seed-z")],
        "k bigint, p string, ver bigint, s string",
    ).coalesce(1), ["p"])
    # delete k=2 (partition z — sorts AFTER untouched a)
    merge_upsert(
        spark,
        tgt,
        spark.createDataFrame(
            [(2, "z", 20, None, True)],
            "k bigint, p string, ver bigint, s string, dead boolean",
        ),
        ["k"],
        partition_by=["p"],
        version_cols=["ver"],
        tombstone_col="dead",
    )
    # a later unrelated merge must NOT stamp the stored tombstone live
    merge_upsert(
        spark,
        tgt,
        spark.createDataFrame(
            [(3, "a", 1, "new", False)],
            "k bigint, p string, ver bigint, s string, dead boolean",
        ),
        ["k"],
        partition_by=["p"],
        version_cols=["ver"],
        tombstone_col="dead",
    )
    out = read_table(spark, tgt)
    live = sorted(
        r.k for r in out.filter("NOT coalesce(dead, false)").collect()
    )
    assert live == [1, 3]
    # the ver-20 tombstone is still stored and still wins a stale replay
    merge_upsert(
        spark,
        tgt,
        spark.createDataFrame(
            [(2, "z", 15, "stale", False)],
            "k bigint, p string, ver bigint, s string, dead boolean",
        ),
        ["k"],
        partition_by=["p"],
        version_cols=["ver"],
        tombstone_col="dead",
    )
    out = read_table(spark, tgt)
    assert sorted(
        r.k for r in out.filter("NOT coalesce(dead, false)").collect()
    ) == [1, 3]


def test_purge_tombstones_keeps_partition_layout(spark, tmp_path):
    """Finding from live repro: a layout-blind purge flattened the
    table and the next partitioned merge silently dropped every
    unmerged row. Purge must rewrite only affected partitions and keep
    the layout."""
    from async_pipes_spark.sources.sinks import (
        merge_upsert,
        purge_tombstones,
        read_table,
    )

    tgt = str(tmp_path / "pl")
    _seed(spark, tgt, spark.createDataFrame(
        [(1, "x", 5, "dead1", True), (2, "y", 5, "live2", False)],
        "k bigint, p string, ver bigint, s string, dead boolean",
    ).coalesce(1), ["p"])
    before = _live_mapping(spark, tgt)
    assert purge_tombstones(spark, tgt, "dead", partition_by=["p"]) == 1
    # partition x emptied -> leaves the mapping; y keeps its version
    after = _live_mapping(spark, tgt)
    assert "p=x" not in after
    assert after["p=y"] == before["p=y"]
    # the next partitioned merge still sees k=2
    merge_upsert(
        spark,
        tgt,
        spark.createDataFrame(
            [(3, "x", 1, "new", False)],
            "k bigint, p string, ver bigint, s string, dead boolean",
        ),
        ["k"],
        partition_by=["p"],
        version_cols=["ver"],
        tombstone_col="dead",
    )
    got = sorted(r.k for r in read_table(spark, tgt).collect())
    assert got == [2, 3]


def test_purge_tombstones_null_horizon_is_kept(spark, tmp_path):
    """Finding from live repro: a tombstone whose horizon predicate is
    NULL must be KEPT (can't prove it's past the horizon), not
    silently dropped outside the purged count."""
    from pyspark.sql import functions as F

    from async_pipes_spark.sources.sinks import purge_tombstones, read_table

    tgt = str(tmp_path / "nh")
    _seed(spark, tgt, spark.createDataFrame(
        [(1, None, True), (2, 10, True), (3, 90, True), (4, 10, False)],
        "k bigint, ver bigint, dead boolean",
    ).coalesce(1))
    assert purge_tombstones(spark, tgt, "dead", horizon=F.col("ver") < 50) == 1
    assert sorted(r.k for r in read_table(spark, tgt).collect()) == [1, 3, 4]


def test_merge_upsert_hard_mode_on_soft_table(spark, tmp_path):
    """Finding from live repro: retain_tombstones=False on a table that
    already carries the flag column crashed on unionByName. It must
    keep the column, preserve stored flags outside the batch, and
    hard-delete the batch's winning tombstones."""
    from async_pipes_spark.sources.sinks import merge_upsert, read_table

    tgt = str(tmp_path / "hs")
    _seed(spark, tgt, spark.createDataFrame(
        [(1, 5, "a", False), (2, 5, "b", True), (3, 5, "c", False)],
        "k bigint, ver bigint, s string, dead boolean",
    ).coalesce(1))
    merge_upsert(
        spark,
        tgt,
        spark.createDataFrame(
            [(3, 9, None, True), (4, 1, "d", False)],
            "k bigint, ver bigint, s string, dead boolean",
        ),
        ["k"],
        version_cols=["ver"],
        tombstone_col="dead",
        retain_tombstones=False,
    )
    out = read_table(spark, tgt)
    rows = sorted((r.k, bool(r.dead)) for r in out.collect())
    # k=3 hard-deleted; k=2's STORED soft tombstone untouched
    assert rows == [(1, False), (2, True), (4, False)]


def test_merge_upsert_additive_schema_evolution(spark, tmp_path):
    """allow_schema_evolution: a new update column joins the table as
    NULL on stored rows — strictly additive (an update batch missing an
    existing column still errors); works through the partitioned path
    where old partitions keep their old file schema; without the flag
    the new column is rejected."""
    import pytest as _pytest

    from async_pipes_spark.sources.sinks import merge_upsert, read_table

    tgt = str(tmp_path / "ev")
    _seed(spark, tgt, spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y")], "k bigint, s string, p string"
    ).coalesce(1), ["p"])
    updates = spark.createDataFrame(
        [(2, "B", "y", 7), (3, "c", "x", 9)],
        "k bigint, s string, p string, extra bigint",
    )
    with _pytest.raises(ValueError, match="schema mismatch"):
        merge_upsert(spark, tgt, updates, ["k"], partition_by=["p"])
    merge_upsert(
        spark, tgt, updates, ["k"], partition_by=["p"], allow_schema_evolution=True
    )
    out = read_table(spark, tgt)
    got = sorted((r.k, r.s, r.extra) for r in out.collect())
    assert got == [(1, "a", None), (2, "B", 7), (3, "c", 9)]
    # a later batch must see the evolved schema (mergeSchema read) and
    # must NOT be allowed to silently drop the evolved column
    with _pytest.raises(ValueError, match="schema mismatch"):
        merge_upsert(
            spark,
            tgt,
            spark.createDataFrame([(4, "d", "x")], "k bigint, s string, p string"),
            ["k"],
            partition_by=["p"],
            allow_schema_evolution=True,
        )
    merge_upsert(
        spark,
        tgt,
        spark.createDataFrame(
            [(4, "d", "x", None)], "k bigint, s string, p string, extra bigint"
        ),
        ["k"],
        partition_by=["p"],
        allow_schema_evolution=True,
    )
    out = read_table(spark, tgt)
    assert sorted(r.k for r in out.collect()) == [1, 2, 3, 4]


def test_cdc_merge_sink_recovers_across_restart(spark, tmp_path):
    """Kill-and-restart recovery for the foreachBatch CDC merge sink
    (s20/s22's shape): stop the stream after it has merged a strict
    subset of the files, restart from the SAME checkpoint, and drain.
    Batch replay at the boundary is harmless BECAUSE the versioned
    merge is idempotent (same rows, same versions -> same winners), so
    the final lake equals the global per-key argmax."""
    import time

    from pyspark.sql import functions as F

    from async_pipes_spark.sources.sinks import merge_upsert, read_table

    lake = str(tmp_path / "lake")
    incoming = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")

    rows = [(k, v, f"s{k}v{v}") for k in range(20) for v in (1, 2, 3)]
    src = spark.createDataFrame(rows, "k bigint, ver bigint, s string")
    _seed(spark, lake, src.filter("ver = 1").coalesce(1))
    # 6 single-row-group files so the throttled stream has real batches
    src.filter("ver >= 2").repartition(6, "k").write.parquet(incoming)

    def start():
        stream = (
            spark.readStream.schema(spark.read.parquet(incoming).schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(incoming)
        )
        return (
            stream.writeStream.foreachBatch(
                lambda b, _id: merge_upsert(
                    b.sparkSession, lake, b, ["k"], version_cols=["ver"]
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="300 milliseconds")
            .start()
        )

    q = start()
    deadline = time.time() + 60
    while time.time() < deadline:
        done = len(q.recentProgress)
        if any(p["numInputRows"] > 0 for p in q.recentProgress or []):
            break
        time.sleep(0.2)
    q.stop()
    q.awaitTermination()
    mid = read_table(spark, lake).count()
    assert mid <= 20 * 1  # never more than one row per key

    q2 = (
        spark.readStream.schema(spark.read.parquet(incoming).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(incoming)
        .writeStream.foreachBatch(
            lambda b, _id: merge_upsert(
                b.sparkSession, lake, b, ["k"], version_cols=["ver"]
            )
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    final = read_table(spark, lake)
    got = sorted((r.k, r.ver, r.s) for r in final.collect())
    assert got == [(k, 3, f"s{k}v3") for k in range(20)]


def test_orc_and_text_roundtrip(spark, tmp_path):
    """ORC roundtrips like parquet; text writes one line per row and
    reads back as value:string — the raw-corpus ingest path."""
    from async_pipes_spark.sources.files import read_orc, read_text
    from async_pipes_spark.sources.sinks import write_files

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5), (3, "c", None)],
        "id: bigint, s: string, x: double",
    )
    p = str(tmp_path / "orc")
    write_files(df, p, fmt="orc")
    back = read_orc(spark, p, schema="id bigint, s string, x double")
    assert sorted((r.id, r.s, r.x) for r in back.collect()) == sorted(
        (r.id, r.s, r.x) for r in df.collect()
    )

    t = str(tmp_path / "txt")
    df.select(F.concat_ws("|", "id", "s").alias("value")).coalesce(1).write.text(t)
    lines = sorted(r.value for r in read_text(spark, t).collect())
    assert lines == ["1|a", "2|b", "3|c"]


def test_cdc_merge_randomized_against_python_model(spark, tmp_path):
    """Randomized property: any partition of a CDC changelog
    (upserts + deletes, unique versions) into batches, applied in any
    order, converges to a simple Python model's answer (argmax per key;
    deleted keys = tombstones in the live view). Seeded, 3 trials."""
    import random

    from async_pipes_spark.sources.sinks import merge_upsert, read_table

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        changes = []
        ver = 0
        for _ in range(60):
            ver += 1
            changes.append(
                (rng.randrange(12), ver, f"v{ver}", rng.random() < 0.25)
            )
        # Python model: per-key argmax by version; dead keys excluded
        latest = {}
        for k, v, s, dead in changes:
            if k not in latest or v > latest[k][0]:
                latest[k] = (v, s, dead)
        want = sorted(
            (k, v, s) for k, (v, s, dead) in latest.items() if not dead
        )

        rng.shuffle(changes)
        n_batches = rng.randrange(2, 6)
        batches = [changes[i::n_batches] for i in range(n_batches)]
        tgt = str(tmp_path / f"r{seed}")
        _seed(spark, tgt, spark.createDataFrame(
            [], "k bigint, ver bigint, s string, dead boolean"
        ))
        for b in batches:
            merge_upsert(
                spark,
                tgt,
                spark.createDataFrame(b, "k bigint, ver bigint, s string, dead boolean"),
                ["k"],
                version_cols=["ver"],
                tombstone_col="dead",
            )
        got = sorted(
            (r.k, r.ver, r.s)
            for r in read_table(spark, tgt)
            .filter("NOT coalesce(dead, false)")
            .collect()
        )
        assert got == want, (seed, got, want)


def test_merge_upsert_boolean_partition_emptied_dir_removed(spark, tmp_path):
    """Boolean partition values write as p=true/p=false; an emptied
    partition must leave the live mapping under that exact name
    (str(True) is 'True' — a mismatched name would keep the stale
    mapping and its duplicate row)."""
    from async_pipes_spark.sources.sinks import merge_upsert, read_table

    tgt = str(tmp_path / "bp")
    _seed(spark, tgt, spark.createDataFrame(
        [(1, True, "a"), (2, False, "b")], "k bigint, p boolean, s string"
    ).coalesce(1), ["p"])
    assert "p=true" in _live_mapping(spark, tgt)
    # move k=1 from p=true to p=false -> p=true empties
    merge_upsert(
        spark,
        tgt,
        spark.createDataFrame([(1, False, "a2")], "k bigint, p boolean, s string"),
        ["k"],
        partition_by=["p"],
    )
    # partition columns read back as strings (Spark's partition-type
    # inference has no boolean); the values must be lowercase
    got = sorted((r.k, str(r.p).lower(), r.s) for r in read_table(spark, tgt).collect())
    assert got == [(1, "false", "a2"), (2, "false", "b")]
    assert "p=true" not in _live_mapping(spark, tgt)


def test_merge_upsert_many_partitions_uses_join_pruning(spark, tmp_path):
    """Past the OR-chain threshold (>64 touched partitions) the merge
    switches to broadcast semi-join pruning — same result, O(1) plan
    size in partition count."""
    from async_pipes_spark.sources.sinks import merge_upsert, read_table

    tgt = str(tmp_path / "mp")
    rows = [(i, f"p{i:03d}", "old") for i in range(100)]
    _seed(spark, tgt, spark.createDataFrame(
        rows, "k bigint, p string, s string"
    ).repartition(4), ["p"])
    updates = spark.createDataFrame(
        [(i, f"p{i:03d}", "new") for i in range(80)], "k bigint, p string, s string"
    )
    merge_upsert(spark, tgt, updates, ["k"], partition_by=["p"],
                 keys_partition_stable=True)
    out = {r.k: r.s for r in read_table(spark, tgt).collect()}
    assert len(out) == 100
    assert all(out[k] == "new" for k in range(80))
    assert all(out[k] == "old" for k in range(80, 100))


def test_purge_tombstones_many_partitions_uses_join_pruning(spark, tmp_path):
    """Past the OR-chain threshold (>64 affected partitions) the purge
    switches to broadcast semi-join pruning — same result, O(1) plan
    size in partition count — mirroring merge_upsert's switch."""
    from async_pipes_spark.sources.sinks import purge_tombstones, read_table

    tgt = str(tmp_path / "pp")
    # 100 partitions; the first 80 hold a tombstone each, 40 of those
    # hold nothing else (purge empties them)
    rows = []
    for i in range(100):
        if i < 80:
            rows.append((1000 + i, f"p{i:03d}", 1, True))
        if i >= 40:
            rows.append((i, f"p{i:03d}", 1, False))
    _seed(spark, tgt, spark.createDataFrame(
        rows, "k bigint, p string, ver bigint, dead boolean"
    ).repartition(4), ["p"])
    assert purge_tombstones(spark, tgt, "dead", partition_by=["p"]) == 80
    out = read_table(spark, tgt)
    assert out.filter("coalesce(dead, false)").count() == 0
    assert sorted(r.k for r in out.collect()) == list(range(40, 100))
    # partitions emptied by the purge leave the live mapping
    mapping = _live_mapping(spark, tgt)
    assert "p=p000" not in mapping
    assert "p=p040" in mapping


def test_manifest_table_merge_commit_and_gc(spark, tmp_path):
    """Manifest tables: merge commits through the pointer file (never a
    directory rename — the object-store-safe path), the live version
    reads back correctly, and version GC keeps exactly live+previous."""
    from async_pipes_spark.sources.sinks import (
        manifest_version,
        merge_upsert,
        read_manifest_table,
        write_manifest_table,
    )

    tgt = str(tmp_path / "mt")
    write_manifest_table(
        spark,
        spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, s string"),
        tgt,
    )
    v0 = manifest_version(spark, tgt)
    merge_upsert(
        spark, tgt,
        spark.createDataFrame([(2, "B"), (3, "c")], "k bigint, s string"),
        ["k"],
    )
    v1 = manifest_version(spark, tgt)
    assert v1 != v0
    got = {r.k: r.s for r in read_manifest_table(spark, tgt).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}
    merge_upsert(
        spark, tgt,
        spark.createDataFrame([(4, "d")], "k bigint, s string"),
        ["k"],
    )
    # GC keeps live + previous only; v0 is gone
    versions = {p.name for p in (tmp_path / "mt" / "_data").iterdir()}
    assert manifest_version(spark, tgt) in versions
    assert v1 in versions and v0 not in versions
    assert len(versions) == 2
    assert read_manifest_table(spark, tgt).count() == 4


def test_manifest_table_crash_during_write_leaves_table_intact(spark, tmp_path):
    """Crash injection: an update batch that dies mid-write must leave
    the pointer on the old version and the old data fully readable —
    immutable version dirs mean a failed commit is an orphan dir, not a
    broken table."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from async_pipes_spark.sources.sinks import (
        manifest_version,
        merge_upsert,
        read_manifest_table,
        write_manifest_table,
    )

    tgt = str(tmp_path / "mc")
    write_manifest_table(
        spark, spark.createDataFrame([(1, "a")], "k bigint, s string"), tgt
    )
    v0 = manifest_version(spark, tgt)
    boom = F.udf(lambda s: exec('raise RuntimeError("boom")'), "string")
    bad = spark.createDataFrame([(1, "x")], "k bigint, s string").select(
        "k", boom("s").alias("s")
    )
    with _pytest.raises(Exception):
        merge_upsert(spark, tgt, bad, ["k"])
    assert manifest_version(spark, tgt) == v0
    assert [tuple(r) for r in read_manifest_table(spark, tgt).collect()] == [(1, "a")]


def test_mutation_verbs_refuse_plain_directory(spark, tmp_path):
    """Manifest tables are the only mutable format: every read-modify-
    write verb refuses a plain parquet directory — flat or
    partitionBy-laid-out — with guidance to write_manifest_table, and
    leaves its files and rows exactly as they were."""
    import pytest as _pytest

    from async_pipes_spark.sources.sinks import (
        compact_small_files,
        merge_upsert,
        optimize_zorder,
        purge_tombstones,
        read_table,
    )

    df = spark.createDataFrame(
        [(1, "x", 5, True), (2, "y", 5, False)],
        "k bigint, p string, ver bigint, dead boolean",
    )
    upd = spark.createDataFrame(
        [(1, "y", 9, False)], "k bigint, p string, ver bigint, dead boolean"
    )
    for name, partition_by in (("flat", None), ("part", ["p"])):
        tgt = str(tmp_path / name)
        writer = df.coalesce(1).write
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tgt)
        files = _data_files(tgt)
        rows = sorted(map(tuple, read_table(spark, tgt).collect()))
        verbs = [
            lambda: merge_upsert(spark, tgt, upd, ["k"], partition_by=partition_by,
                                 version_cols=["ver"], tombstone_col="dead"),
            lambda: purge_tombstones(spark, tgt, "dead", partition_by=partition_by),
            lambda: compact_small_files(spark, tgt),
            lambda: optimize_zorder(spark, tgt, ["k"]),
        ]
        for verb in verbs:
            with _pytest.raises(ValueError, match="write_manifest_table"):
                verb()
            assert _data_files(tgt) == files, name
        assert sorted(map(tuple, read_table(spark, tgt).collect())) == rows


def test_manifest_purge_and_compact(spark, tmp_path):
    """purge_tombstones and compact_small_files on a flat manifest
    commit new versions through the pointer."""
    from async_pipes_spark.sources.sinks import (
        compact_small_files,
        purge_tombstones,
        read_manifest_table,
        write_manifest_table,
    )

    tgt = str(tmp_path / "mp2")
    write_manifest_table(
        spark,
        spark.createDataFrame(
            [(1, True), (2, False), (3, None)], "k bigint, dead boolean"
        ),
        tgt,
    )
    assert purge_tombstones(spark, tgt, "dead") == 1
    assert sorted(r.k for r in read_manifest_table(spark, tgt).collect()) == [2, 3]
    assert compact_small_files(spark, tgt, target_rows_per_file=10) == 1
    assert sorted(r.k for r in read_manifest_table(spark, tgt).collect()) == [2, 3]


def test_cdc_upsert_delete_evolve_randomized_model(spark, tmp_path):
    """Randomized property over the FULL CDC feature set interleaved:
    a changelog whose later half carries a new column (additive schema
    evolution), with deletes mixed in, partitioned into batches and
    applied in any order, converges to the Python model's per-key
    argmax — evolution, tombstones and versioned resolution compose.
    Batches lacking the evolved column that replay after evolution are
    conformed with NULL (the engine errors on missing columns by
    design; the replayer owns the upcast)."""
    import random

    from async_pipes_spark.sources.sinks import merge_upsert, read_table

    for seed in (5, 41):
        rng = random.Random(seed)
        changes = []
        ver = 0
        for _ in range(60):
            ver += 1
            has_extra = ver > 30
            extra = f"e{ver}" if has_extra else None
            changes.append(
                (rng.randrange(10), ver, f"v{ver}", rng.random() < 0.25,
                 extra, has_extra)
            )
        latest = {}
        for k, v, s, dead, extra, _he in changes:
            if k not in latest or v > latest[k][0]:
                latest[k] = (v, s, dead, extra)
        want = sorted(
            (k, v, s, e) for k, (v, s, dead, e) in latest.items() if not dead
        )

        rng.shuffle(changes)
        nb = rng.randrange(3, 6)
        batches = [changes[i::nb] for i in range(nb)]
        tgt = str(tmp_path / f"ev{seed}")
        _seed(spark, tgt, spark.createDataFrame(
            [], "k bigint, ver bigint, s string, dead boolean"
        ))
        evolved = False
        for b in batches:
            carries = any(he for *_x, he in b)
            if carries or evolved:
                rows = [(k, v, s, d, e) for k, v, s, d, e, _he in b]
                df = spark.createDataFrame(
                    rows, "k bigint, ver bigint, s string, dead boolean, extra string"
                )
                evolved = True
            else:
                rows = [(k, v, s, d) for k, v, s, d, _e, _he in b]
                df = spark.createDataFrame(
                    rows, "k bigint, ver bigint, s string, dead boolean"
                )
            merge_upsert(
                spark, tgt, df, ["k"],
                version_cols=["ver"], tombstone_col="dead",
                allow_schema_evolution=True,
            )
        out = read_table(spark, tgt)
        if "extra" not in out.columns:
            out = out.withColumn("extra", F.lit(None).cast("string"))
        got = sorted(
            (r.k, r.ver, r.s, r.extra)
            for r in out.filter("NOT coalesce(dead, false)").collect()
        )
        assert got == want, (seed, got, want)


def test_manifest_time_travel(spark, tmp_path):
    """The previous version stays readable after a commit (GC grace
    window = live + previous); unretained versions error with the
    retained list."""
    import pytest as _pytest

    from async_pipes_spark.sources.sinks import (
        manifest_versions,
        merge_upsert,
        read_manifest_table,
        write_manifest_table,
    )

    tgt = str(tmp_path / "tt")
    write_manifest_table(
        spark, spark.createDataFrame([(1, "a")], "k bigint, s string"), tgt
    )
    v0 = manifest_versions(spark, tgt)[0]
    merge_upsert(
        spark, tgt, spark.createDataFrame([(2, "b")], "k bigint, s string"), ["k"]
    )
    vs = manifest_versions(spark, tgt)
    assert vs[0] != v0 and v0 in vs
    assert read_manifest_table(spark, tgt).count() == 2
    assert read_manifest_table(spark, tgt, version=v0).count() == 1
    with _pytest.raises(ValueError, match="not retained"):
        read_manifest_table(spark, tgt, version="v_nope")


def test_manifest_orphan_version_not_time_travelable(spark, tmp_path):
    """A _data dir a crashed commit left behind (pointer never flipped)
    must NOT be offered for time travel — it may be partially written.
    Only pointer-published versions are listed."""
    import pytest as _pytest

    from async_pipes_spark.sources.sinks import (
        manifest_versions,
        read_manifest_table,
        write_manifest_table,
    )

    tgt = str(tmp_path / "orph")
    write_manifest_table(
        spark, spark.createDataFrame([(1,)], "k bigint"), tgt
    )
    # simulate a crashed commit: a version dir exists, pointer unchanged
    orphan = tmp_path / "orph" / "_data" / "v_orphan_crash"
    orphan.mkdir()
    (orphan / "part-00000.parquet").write_bytes(b"partial garbage")
    vs = manifest_versions(spark, tgt)
    assert "v_orphan_crash" not in vs and len(vs) == 1
    with _pytest.raises(ValueError, match="not retained"):
        read_manifest_table(spark, tgt, version="v_orphan_crash")


def test_producer_name_labels_registration(spark):
    """Two producers around the SAME closure under different names keep
    separate, name-labeled registrations (the name parameter used to be
    dead: both silently shared one uuid registration)."""
    from async_pipes_spark.sources.pyproducer import make_producer_datasource

    def gen(part, n):
        return iter([(part,)])

    a = make_producer_datasource(gen, 1, label="alpha")
    b = make_producer_datasource(gen, 1, label="beta")
    assert a.name() != b.name()
    assert "alpha" in a.name() and "beta" in b.name()
    # same closure + same label memoizes to ONE registration
    assert make_producer_datasource(gen, 1, label="alpha").name() == a.name()


def test_partitioned_manifest_merge_commit_gc_and_time_travel(spark, tmp_path):
    """Partitioned manifest tables (the object-store-safe commit for
    partitioned lakes): a merge rewrites ONLY its touched partitions
    into a fresh version dir and publishes a generation pointing them
    there — untouched partitions keep their original version dir, a
    partition the merge empties drops out of the mapping, the previous
    generation stays time-travelable, and GC keeps exactly the retained
    window."""
    import pytest as _pytest

    from async_pipes_spark.sources.sinks import (
        _pmanifest_mapping,
        merge_upsert,
        partitioned_manifest_generations,
        read_partitioned_manifest,
        write_partitioned_manifest_table,
    )

    tgt = str(tmp_path / "pm")
    write_partitioned_manifest_table(
        spark,
        spark.createDataFrame(
            [(1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2")],
            "k bigint, s string, p string",
        ),
        tgt,
        ["p"],
    )
    g0 = partitioned_manifest_generations(spark, tgt)[0]
    m0 = _pmanifest_mapping(spark, tgt, g0)
    # update k=2 in place, MOVE k=3 from p2 to p3 (empties p2), insert k=4
    merge_upsert(
        spark,
        tgt,
        spark.createDataFrame(
            [(2, "B", "p1"), (3, "c3", "p3"), (4, "d", "p1")],
            "k bigint, s string, p string",
        ),
        ["k"],
        partition_by=["p"],
    )
    got = sorted(tuple(r) for r in read_partitioned_manifest(spark, tgt).collect())
    assert got == [(1, "a", "p1"), (2, "B", "p1"), (3, "c3", "p3"), (4, "d", "p1")]
    gens = partitioned_manifest_generations(spark, tgt)
    assert len(gens) == 2 and gens[1] == g0
    m1 = _pmanifest_mapping(spark, tgt, gens[0])
    assert "p=p2" not in m1  # emptied partition left the mapping
    assert m1["p=p1"] != m0["p=p1"]  # touched -> new version
    assert m1["p=p3"] == m1["p=p1"]  # both written by this commit
    # untouched partitions would keep their version; here every live one
    # was touched, but the PREVIOUS generation still reads intact
    old = sorted(
        tuple(r)
        for r in read_partitioned_manifest(spark, tgt, generation=g0).collect()
    )
    assert old == [(1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2")]
    with _pytest.raises(ValueError, match="not retained"):
        read_partitioned_manifest(spark, tgt, generation="g_nope")
    # third commit ages g0 out (default keep=2) and GC drops its
    # now-unreferenced version dir
    merge_upsert(
        spark,
        tgt,
        spark.createDataFrame([(5, "e", "p1")], "k bigint, s string, p string"),
        ["k"],
        partition_by=["p"],
    )
    gens2 = partitioned_manifest_generations(spark, tgt)
    assert len(gens2) == 2 and g0 not in gens2
    live_versions = {
        v
        for g in gens2
        for v in _pmanifest_mapping(spark, tgt, g).values()
    }
    on_disk = {p.name for p in (tmp_path / "pm" / "_data").iterdir()}
    assert on_disk == live_versions
    on_disk_gens = {
        p.name
        for p in (tmp_path / "pm" / "_gens").iterdir()
        if not p.name.startswith(".")  # Hadoop local-FS .crc sidecars
    }
    assert on_disk_gens == set(gens2)


def test_partitioned_manifest_untouched_partition_keeps_version(spark, tmp_path):
    """A merge touching one partition must not repoint — or rewrite —
    the other partitions' mappings (the at-scale guarantee: a 1-key
    merge into a 100k-partition lake moves one partition's worth of
    bytes)."""
    from async_pipes_spark.sources.sinks import (
        _pmanifest_mapping,
        merge_upsert,
        partitioned_manifest_generations,
        write_partitioned_manifest_table,
    )

    tgt = str(tmp_path / "pmu")
    write_partitioned_manifest_table(
        spark,
        spark.createDataFrame(
            [(1, "a", "p1"), (3, "c", "p2")], "k bigint, s string, p string"
        ),
        tgt,
        ["p"],
    )
    g0 = partitioned_manifest_generations(spark, tgt)[0]
    v_p2 = _pmanifest_mapping(spark, tgt, g0)["p=p2"]
    merge_upsert(
        spark,
        tgt,
        spark.createDataFrame([(1, "A", "p1")], "k bigint, s string, p string"),
        ["k"],
        partition_by=["p"],
        keys_partition_stable=True,
    )
    g1 = partitioned_manifest_generations(spark, tgt)[0]
    m1 = _pmanifest_mapping(spark, tgt, g1)
    assert m1["p=p2"] == v_p2  # untouched partition: same version dir
    assert m1["p=p1"] != v_p2


def test_partitioned_manifest_crash_during_write_leaves_table_intact(
    spark, tmp_path
):
    """Crash injection: a merge dying mid-write leaves the pointer on
    the old generation and every old partition readable (the version
    dir the failed write started is an orphan, never referenced)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from async_pipes_spark.sources.sinks import (
        merge_upsert,
        partitioned_manifest_generations,
        read_partitioned_manifest,
        write_partitioned_manifest_table,
    )

    tgt = str(tmp_path / "pmc")
    write_partitioned_manifest_table(
        spark,
        spark.createDataFrame([(1, "a", "p1")], "k bigint, s string, p string"),
        tgt,
        ["p"],
    )
    g0 = partitioned_manifest_generations(spark, tgt)[0]
    boom = F.udf(lambda s: exec('raise RuntimeError("boom")'), "string")
    bad = spark.createDataFrame(
        [(1, "x", "p1")], "k bigint, s string, p string"
    ).select("k", boom("s").alias("s"), "p")
    with _pytest.raises(Exception):
        merge_upsert(spark, tgt, bad, ["k"], partition_by=["p"])
    assert partitioned_manifest_generations(spark, tgt)[0] == g0
    assert [tuple(r) for r in read_partitioned_manifest(spark, tgt).collect()] == [
        (1, "a", "p1")
    ]


def test_manifest_keep_versions_retention(spark, tmp_path):
    """keep_versions=N is stored in the pointer, inherited by later
    merge commits, honored by time travel and GC — for BOTH manifest
    flavors."""
    import pytest as _pytest

    from async_pipes_spark.sources.sinks import (
        manifest_versions,
        merge_upsert,
        partitioned_manifest_generations,
        read_manifest_table,
        read_partitioned_manifest,
        write_manifest_table,
        write_partitioned_manifest_table,
    )

    # flat
    tgt = str(tmp_path / "kv")
    write_manifest_table(
        spark,
        spark.createDataFrame([(1,)], "k bigint"),
        tgt,
        keep_versions=3,
    )
    history = [manifest_versions(spark, tgt)[0]]
    for i in range(2, 6):
        merge_upsert(
            spark, tgt, spark.createDataFrame([(i,)], "k bigint"), ["k"]
        )
        history.append(manifest_versions(spark, tgt)[0])
    vs = manifest_versions(spark, tgt)
    assert vs == history[-1:-4:-1]  # newest 3, live first
    assert {p.name for p in (tmp_path / "kv" / "_data").iterdir()} == set(vs)
    assert read_manifest_table(spark, tgt, version=vs[2]).count() == 3
    with _pytest.raises(ValueError, match="not retained"):
        read_manifest_table(spark, tgt, version=history[0])

    # partitioned
    ptgt = str(tmp_path / "kvp")
    write_partitioned_manifest_table(
        spark,
        spark.createDataFrame([(1, "p1")], "k bigint, p string"),
        ptgt,
        ["p"],
        keep_versions=3,
    )
    ghist = [partitioned_manifest_generations(spark, ptgt)[0]]
    for i in range(2, 6):
        merge_upsert(
            spark,
            ptgt,
            spark.createDataFrame([(i, "p1")], "k bigint, p string"),
            ["k"],
            partition_by=["p"],
        )
        ghist.append(partitioned_manifest_generations(spark, ptgt)[0])
    gs = partitioned_manifest_generations(spark, ptgt)
    assert gs == ghist[-1:-4:-1]
    assert read_partitioned_manifest(spark, ptgt, generation=gs[2]).count() == 3


def test_partitioned_manifest_randomized_model(spark, tmp_path):
    """Randomized interleaving of versioned CDC merges (upserts +
    deletes + partition moves), tombstone purges and compactions
    against a Python model — the pmanifest twin of the randomized CDC
    test (VERDICT r6 #8): after EVERY step the pointer resolves and the
    table equals the model."""
    import random

    from async_pipes_spark.sources.sinks import (
        compact_small_files,
        merge_upsert,
        purge_tombstones,
        read_partitioned_manifest,
        write_partitioned_manifest_table,
    )

    for seed in (7, 23):
        rng = random.Random(seed)
        tgt = str(tmp_path / f"pmr{seed}")
        parts = ["p1", "p2", "p3"]
        model = {}  # k -> (ver, s, dead, p)
        init = [(k, 0, f"s{k}", False, parts[k % 3]) for k in range(6)]
        for k, v, s, d, p in init:
            model[k] = (v, s, d, p)
        schema = "k bigint, ver bigint, s string, dead boolean, p string"
        write_partitioned_manifest_table(
            spark, spark.createDataFrame(init, schema), tgt, ["p"]
        )
        ver = 0
        for _step in range(8):
            op = rng.choice(["merge", "merge", "merge", "purge", "compact"])
            if op == "merge":
                rows = []
                for _ in range(rng.randrange(1, 4)):
                    ver += 1
                    k = rng.randrange(10)
                    dead = rng.random() < 0.25
                    row = (k, ver, f"v{ver}", dead, rng.choice(parts))
                    rows.append(row)
                    if k not in model or ver > model[k][0]:
                        model[k] = (ver, row[2], dead, row[4])
                merge_upsert(
                    spark,
                    tgt,
                    spark.createDataFrame(rows, schema),
                    ["k"],
                    partition_by=["p"],
                    version_cols=["ver"],
                    tombstone_col="dead",
                )
            elif op == "purge":
                purged = purge_tombstones(spark, tgt, "dead", partition_by=["p"])
                assert purged == sum(1 for v in model.values() if v[2])
                for k in [k for k, v in model.items() if v[2]]:
                    del model[k]
            else:
                compact_small_files(spark, tgt, target_rows_per_file=1000)
            want = sorted(
                (k, v, s, d, p) for k, (v, s, d, p) in model.items()
            )
            got = sorted(
                tuple(r)
                for r in read_partitioned_manifest(spark, tgt)
                .select("k", "ver", "s", "dead", "p")
                .collect()
            )
            assert got == want, (seed, _step, op, got, want)


def test_flat_manifest_randomized_model(spark, tmp_path):
    """The flat-manifest twin of the partitioned randomized model:
    random interleavings of versioned CDC merges (upserts + deletes),
    tombstone purges, compactions, and pointer-only RESTOREs against an
    UNPARTITIONED manifest table — after every step the pointer
    resolves and the live version equals the Python model (a restore
    rewinds the model to the restored version's recorded snapshot)."""
    import random

    from async_pipes_spark.sources.sinks import (
        compact_small_files,
        manifest_versions,
        merge_upsert,
        purge_tombstones,
        read_manifest_table,
        restore_manifest_table,
        write_manifest_table,
    )

    for seed in (11, 31):
        rng = random.Random(seed)
        tgt = str(tmp_path / f"fmr{seed}")
        model = {}  # k -> (ver, s, dead)
        init = [(k, 0, f"s{k}", False) for k in range(5)]
        for k, v, s, d in init:
            model[k] = (v, s, d)
        schema = "k bigint, ver bigint, s string, dead boolean"
        write_manifest_table(spark, spark.createDataFrame(init, schema), tgt)
        # version-id -> model snapshot, for replaying restores; entries
        # age out of restorability with the retained window, but stale
        # dict entries are harmless (restore targets come from the live
        # retained list)
        snap = {manifest_versions(spark, tgt)[0]: dict(model)}
        ver = 0
        for _step in range(10):
            op = rng.choice(
                ["merge", "merge", "merge", "purge", "compact", "restore"]
            )
            if op == "merge":
                rows = []
                for _ in range(rng.randrange(1, 4)):
                    ver += 1
                    k = rng.randrange(8)
                    dead = rng.random() < 0.25
                    rows.append((k, ver, f"v{ver}", dead))
                    if k not in model or ver > model[k][0]:
                        model[k] = (ver, f"v{ver}", dead)
                merge_upsert(
                    spark,
                    tgt,
                    spark.createDataFrame(rows, schema),
                    ["k"],
                    version_cols=["ver"],
                    tombstone_col="dead",
                )
            elif op == "purge":
                purged = purge_tombstones(spark, tgt, "dead")
                assert purged == sum(1 for v in model.values() if v[2])
                for k in [k for k, v in model.items() if v[2]]:
                    del model[k]
            elif op == "restore":
                to = rng.choice(manifest_versions(spark, tgt))
                restore_manifest_table(spark, tgt, to)
                model = dict(snap[to])
            else:
                compact_small_files(spark, tgt, target_rows_per_file=1000)
            snap[manifest_versions(spark, tgt)[0]] = dict(model)
            want = sorted((k, v, s, d) for k, (v, s, d) in model.items())
            got = sorted(
                tuple(r)
                for r in read_manifest_table(spark, tgt)
                .select("k", "ver", "s", "dead")
                .collect()
            )
            assert got == want, (seed, _step, op, got, want)


def test_partitioned_manifest_integer_partition_values(spark, tmp_path):
    """Integer partition columns roundtrip through the generation
    mapping: subdir naming stringifies the value, Spark's standard
    partition type inference restores the int on read (same semantics
    as any Hive-partitioned read), and merges prune/rewrite the right
    partitions."""
    from async_pipes_spark.sources.sinks import (
        merge_upsert,
        read_partitioned_manifest,
        write_partitioned_manifest_table,
    )

    tgt = str(tmp_path / "pmint")
    write_partitioned_manifest_table(
        spark,
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], "k bigint, s string, bucket int"
        ),
        tgt,
        ["bucket"],
    )
    out = read_partitioned_manifest(spark, tgt)
    assert dict(out.dtypes)["bucket"] == "int"
    merge_upsert(
        spark,
        tgt,
        spark.createDataFrame([(2, "B", 30)], "k bigint, s string, bucket int"),
        ["k"],
        partition_by=["bucket"],
    )
    got = sorted(
        tuple(r)
        for r in read_partitioned_manifest(spark, tgt)
        .select("k", "s", "bucket")
        .collect()
    )
    assert got == [(1, "a", 10), (2, "B", 30)]


def test_manifest_diff_insert_update_delete(spark, tmp_path):
    from async_pipes_spark.sources.sinks import (
        manifest_diff,
        manifest_versions,
        write_manifest_table,
    )

    path = str(tmp_path / "t")
    v1 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", None), (4, "d", 40)],
        "k int, s string, v int",
    )
    write_manifest_table(spark, v1, path)
    # 1 unchanged, 2 value-updated, 3 null->non-null, 4 deleted, 5 new
    v2 = spark.createDataFrame(
        [(1, "a", 10), (2, "B", 20), (3, "c", 30), (5, "e", 50)],
        "k int, s string, v int",
    )
    write_manifest_table(spark, v2, path)
    new_v, old_v = manifest_versions(spark, path)[:2]
    got = {
        (r.k, r.change_type)
        for r in manifest_diff(spark, path, old_v, new_v, ["k"]).collect()
    }
    assert got == {(2, "update"), (3, "update"), (4, "delete"), (5, "insert")}
    # reverse diff swaps insert/delete and keeps updates
    rev = {
        (r.k, r.change_type)
        for r in manifest_diff(spark, path, new_v, old_v, ["k"]).collect()
    }
    assert rev == {(2, "update"), (3, "update"), (4, "insert"), (5, "delete")}


def test_manifest_diff_key_only_and_validation(spark, tmp_path):
    import pytest

    from async_pipes_spark.sources.sinks import (
        manifest_diff,
        manifest_versions,
        write_manifest_table,
    )

    path = str(tmp_path / "t")
    write_manifest_table(spark, spark.createDataFrame([(1,), (2,)], "k int"), path)
    write_manifest_table(spark, spark.createDataFrame([(2,), (3,)], "k int"), path)
    new_v, old_v = manifest_versions(spark, path)[:2]
    got = {
        (r.k, r.change_type)
        for r in manifest_diff(spark, path, old_v, new_v, ["k"]).collect()
    }
    assert got == {(1, "delete"), (3, "insert")}
    with pytest.raises(ValueError, match="key_cols"):
        manifest_diff(spark, path, old_v, new_v, [])
    # a GC'd / unknown version raises through read_manifest_table
    with pytest.raises(ValueError):
        manifest_diff(spark, path, "v_nope", new_v, ["k"])


def test_manifest_diff_schema_mismatch_raises(spark, tmp_path):
    import pytest

    from async_pipes_spark.sources.sinks import (
        manifest_diff,
        manifest_versions,
        write_manifest_table,
    )

    path = str(tmp_path / "t")
    write_manifest_table(spark, spark.createDataFrame([(1, 1)], "k int, v int"), path)
    write_manifest_table(spark, spark.createDataFrame([(1, 1)], "k int, w int"), path)
    new_v, old_v = manifest_versions(spark, path)[:2]
    with pytest.raises(ValueError, match="matching schemas"):
        manifest_diff(spark, path, old_v, new_v, ["k"])


def test_restore_manifest_table_flat(spark, tmp_path):
    """RESTORE is a pointer-only commit: the rolled-back version
    becomes live again with no data rewrite, the displaced live state
    stays retained (restore is reversible), restoring the live version
    is a no-op, and unretained versions are rejected."""
    import pytest

    from async_pipes_spark.sources.sinks import (
        manifest_versions,
        merge_upsert,
        read_manifest_table,
        restore_manifest_table,
        write_manifest_table,
    )

    path = str(tmp_path / "t")
    write_manifest_table(
        spark,
        spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, s string"),
        path,
        keep_versions=3,
    )
    v0 = manifest_versions(spark, path)[0]
    merge_upsert(
        spark, path, spark.createDataFrame([(2, "B"), (3, "c")], "k bigint, s string"), ["k"]
    )
    v1 = manifest_versions(spark, path)[0]
    assert v1 != v0

    restore_manifest_table(spark, path, v0)
    vs = manifest_versions(spark, path)
    # pointer-only: the restored list re-orders, it does not mint a dir
    assert vs[0] == v0 and v1 in vs
    assert {(r.k, r.s) for r in read_manifest_table(spark, path).collect()} == {
        (1, "a"),
        (2, "b"),
    }
    # reversible: the bad merge is still retained, restore forward
    restore_manifest_table(spark, path, v1)
    assert manifest_versions(spark, path)[0] == v1
    assert read_manifest_table(spark, path).count() == 3
    # no-op restore of the live version leaves the list unchanged
    before = manifest_versions(spark, path)
    restore_manifest_table(spark, path, v1)
    assert manifest_versions(spark, path) == before
    with pytest.raises(ValueError, match="not retained"):
        restore_manifest_table(spark, path, "v_nope")


def test_restore_manifest_table_then_merge_continues_lineage(spark, tmp_path):
    """A merge after a restore builds on the RESTORED state (the
    rolled-back rows stay gone), and the commit log keeps serializing:
    the post-restore merge gets the next sequence, not a conflict."""
    from async_pipes_spark.sources.sinks import (
        manifest_versions,
        merge_upsert,
        read_manifest_table,
        restore_manifest_table,
        write_manifest_table,
    )

    path = str(tmp_path / "t")
    write_manifest_table(
        spark, spark.createDataFrame([(1, 10)], "k bigint, v bigint"), path
    )
    v0 = manifest_versions(spark, path)[0]
    merge_upsert(
        spark, path, spark.createDataFrame([(1, 99)], "k bigint, v bigint"), ["k"]
    )
    restore_manifest_table(spark, path, v0)
    merge_upsert(
        spark, path, spark.createDataFrame([(2, 20)], "k bigint, v bigint"), ["k"]
    )
    assert {(r.k, r.v) for r in read_manifest_table(spark, path).collect()} == {
        (1, 10),
        (2, 20),
    }


def test_restore_partitioned_manifest(spark, tmp_path):
    """Partitioned restore re-publishes the old generation's mapping as
    a NEW generation: reads roll back (including a key that had moved
    partition), the version dirs the restored mapping references
    survive the retention GC, and unretained generations are
    rejected."""
    import pytest

    from async_pipes_spark.sources.sinks import (
        merge_upsert,
        partitioned_manifest_generations,
        read_partitioned_manifest,
        restore_manifest_table,
        write_partitioned_manifest_table,
    )

    path = str(tmp_path / "p")
    write_partitioned_manifest_table(
        spark,
        spark.createDataFrame(
            [(1, "x", 10), (2, "y", 20)], "k bigint, p string, v bigint"
        ),
        path,
        ["p"],
        keep_versions=3,
    )
    g0 = partitioned_manifest_generations(spark, path)[0]
    # the merge MOVES key 1 from p=x to p=y and upserts a new key
    merge_upsert(
        spark,
        path,
        spark.createDataFrame([(1, "y", 11), (3, "x", 30)], "k bigint, p string, v bigint"),
        ["k"],
        partition_by=["p"],
    )
    assert {
        (r.k, r.p, r.v) for r in read_partitioned_manifest(spark, path).collect()
    } == {(1, "y", 11), (2, "y", 20), (3, "x", 30)}

    restore_manifest_table(spark, path, g0)
    assert {
        (r.k, r.p, r.v) for r in read_partitioned_manifest(spark, path).collect()
    } == {(1, "x", 10), (2, "y", 20)}
    # restore is POINTER-ONLY (round 8, matching the flat flavor and
    # Delta RESTORE): g0's state line moves back to the front — no
    # fresh generation file, no data written, and a merge-on-read
    # state's delta list survives the round trip
    gens = partitioned_manifest_generations(spark, path)
    assert gens[0] == g0 and len(gens) == 2
    # restoring the live state is a no-op
    restore_manifest_table(spark, path, g0)
    assert partitioned_manifest_generations(spark, path) == gens
    with pytest.raises(ValueError, match="not retained"):
        restore_manifest_table(spark, path, "g_nope")
