"""Structured Streaming execution helpers.

The reference's unbounded producers (``with_producer`` with an
infinite closure, reference src/pipeline/builder.rs:96-98) map to
``readStream`` sources; its run-to-quiescence ``wait()``
(src/pipeline/mod.rs:357-396) maps to ``trigger(availableNow=True)`` +
``awaitTermination`` — process everything available, then stop; and
its out-of-band ``Terminate`` signal (mod.rs:205-212) is
``query.stop()``.

At scale the sink is a real table/queue (``format('parquet')``,
Kafka); the memory sink here keeps oracle comparisons in-process.
Backpressure (the reference's bounded pipe buffers, mod.rs:25) maps to
``maxFilesPerTrigger`` / ``maxOffsetsPerTrigger`` source options.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from async_pipes_spark.pipeline.options import WorkerOptions
from async_pipes_spark.session import ensure_engine_confs
from async_pipes_spark.session import pin as _pin
from async_pipes_spark.sources.tables import (
    EVENTS_NS_TO_TS,
    normalize_ntz,
    read_parquet_table,
)

def stream_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    shuffle_partitions: int | None = 8,
    options: "WorkerOptions | None" = None,
) -> DataFrame:
    """File-source streaming read of ANY synthetic table (the file
    stream source needs a directory, so we glob-filter inside sf_dir).

    Schema-driven, like the reference's table-agnostic unbounded
    producers (src/pipeline/builder.rs:96-119): the file stream source
    requires an explicit schema, which we take from the batch reader's
    per-file schema memo (``read_parquet_table``) — no hand-maintained
    per-table schemas, and one inference path for both readers.
    ``events.ts`` gets the same ns→µs conversion as the batch reader
    so streaming twins agree with batch oracles byte-for-byte.

    The stream is built on a CLONED SparkSession (same SparkContext,
    private SQLConf) with ``shuffle_partitions`` pinned: a streaming
    query freezes its state-store partition count from the conf at
    start, and each state partition costs provider setup + commit I/O
    per trigger — a finite availableNow drain wants few. The clone
    keeps that pin per-query instead of mutating the caller's session
    (racy under concurrent use). Long-lived deployments should size it
    to key cardinality (pass None to inherit the caller's conf).

    ``options`` wires the reference's backpressure knob for real: a
    bounded pipe buffer (reference src/pipeline/mod.rs:25, blocking
    write io.rs:154-160) admits at most ``pipe_buffer_size`` records
    ahead of the consumer; the file-source analogue admits at most
    ``pipe_buffer_size`` FILES per trigger (``maxFilesPerTrigger`` —
    honored by availableNow drains too, which split into that many
    files per micro-batch). Kafka-style sources would map to
    ``maxOffsetsPerTrigger``; omit for unthrottled intake."""
    raw_schema = read_parquet_table(spark, f"{sf_dir}/{name}.parquet").schema
    if shuffle_partitions is not None:
        session = spark.newSession()
        ensure_engine_confs(session)
        session.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    else:
        session = spark
    reader = session.readStream.schema(raw_schema).option(
        "pathGlobFilter", f"{name}.parquet"
    )
    if options is not None:
        reader = reader.option("maxFilesPerTrigger", str(options.pipe_buffer_size))
    df = reader.parquet(sf_dir)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # the SAME floor conversion as the batch reader (shared
        # constant — a truncating local copy drifted here once)
        df = df.withColumn("ts", F.expr(EVENTS_NS_TO_TS))
    return normalize_ntz(df)


def stream_rate(
    spark: SparkSession,
    options: "WorkerOptions | None" = None,
    num_partitions: int = 1,
    start_timestamp_ms: int = 0,
) -> DataFrame:
    """OFFSET-BASED streaming source with the reference's bounded-pipe
    backpressure (mod.rs:25) wired: the ``rate-micro-batch`` source
    tracks a monotone row offset — the same offset/commit shape as a
    Kafka partition — and admits exactly ``pipe_buffer_size`` rows per
    trigger (``rowsPerBatch``), the counterpart of Kafka's
    ``maxOffsetsPerTrigger`` cap. ``stream_table`` bounds intake in
    FILES per trigger for file sources; this bounds it in OFFSETS per
    trigger for offset sources — WorkerOptions.pipe_buffer_size is the
    single knob for both. Returns (timestamp, value) rows with
    ``value`` the global row offset.

    ``start_timestamp_ms`` pins the synthetic timestamps so replays
    are deterministic (rate-micro-batch is replayable by contract:
    offsets → identical rows, like sources/pyproducer)."""
    rows = options.pipe_buffer_size if options is not None else 30
    return (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", str(rows))
        .option("numPartitions", str(num_partitions))
        .option("startTimestamp", str(start_timestamp_ms))
        .load()
    )


def run_available_now(
    df: DataFrame,
    output_mode: str = "complete",
    query_name: str | None = None,
) -> DataFrame:
    """Run a streaming DataFrame to quiescence (availableNow) into a
    memory sink; return the materialized result as a batch DataFrame.

    ≙ reference ``wait()``: drain all producers, then terminate.

    State-store width comes from the conf of ``df``'s OWN session
    (``stream_table`` builds streams on a cloned session with few
    shuffle partitions pinned) — nothing global is mutated here.

    The memory sink's temp view is DROPPED before returning (the
    result is pinned first): a long-lived session running many drains
    would otherwise retain every result's full row set in driver
    memory forever — one leaked MemorySink per call."""
    name = query_name or f"q_{uuid.uuid4().hex[:12]}"
    spark = df.sparkSession
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = _pin(spark.table(name))
    spark.catalog.dropTempView(name)
    return out


def stream_to_files(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    checkpoint_dir: str | None = None,
    output_mode: str = "append",
    partition_by: list[str] | None = None,
    available_now: bool = True,
):
    """Durable file sink for a streaming frame — the production
    counterpart of the memory-sink oracle harness (``with_consumer``'s
    persistent form). Exactly-once via the checkpoint dir (source
    offsets + sink commit log survive restarts); ``available_now=True``
    drains-and-stops (reference ``wait()``), ``False`` returns the
    running continuous query (stop ≙ Terminate).

    Returns the ``StreamingQuery``; callers ``awaitTermination()`` as
    needed (done here for availableNow)."""
    writer = (
        df.writeStream.format(fmt)
        .outputMode(output_mode)
        .option("path", path)
        .option("checkpointLocation", checkpoint_dir or f"{path}/_checkpoint")
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def run_foreach_batch_routes(df: DataFrame, routes: dict, base_dir: str) -> dict:
    """Route a stream into one parquet sink per predicate in a single
    pass — the streaming twin of ``with_branching_stage`` (reference
    src/pipeline/builder.rs:251-282): compute once, send each record to
    the branches whose predicate admits it.

    Each micro-batch is persisted once so the N route filters scan the
    batch from cache, not the source (the same single-pass guarantee
    the batch builder gets from ``persist()``). The appends are NOT
    idempotent (a replayed batch would duplicate rows in every sink),
    so the body runs under :func:`once_per_batch` batch-id markers.
    Runs to quiescence (availableNow); returns {route: sink_path}.
    """
    paths = {name: f"{base_dir}/{name}" for name in routes}

    def handle(batch: DataFrame, _batch_id: int) -> None:
        batch.persist()
        try:
            for name, pred in routes.items():
                batch.filter(pred).write.mode("append").parquet(paths[name])
        finally:
            batch.unpersist()

    q = (
        df.writeStream.foreachBatch(
            once_per_batch(handle, f"{base_dir}/_applied")
        )
        .option("checkpointLocation", f"{base_dir}/_checkpoint")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return paths


def once_per_batch(fn, marker_dir: str, keep_last: int = 1000):
    """Make a non-idempotent ``foreachBatch`` body effectively
    exactly-once: ``foreachBatch`` is AT-LEAST-ONCE (a batch whose
    writer crashed after committing but before the checkpoint advanced
    is re-executed on restart), which double-applies any ADDITIVE
    refresh — a versioned/idempotent merge shrugs off the replay, an
    increment does not. The standard guard (the one Spark's own
    foreachBatch docs prescribe) is batch-id dedup: a marker file per
    applied batch id; replays of recorded batches become no-ops.

    Markers go through the Hadoop FileSystem, so file:// and object
    stores behave alike. The marker is written AFTER ``fn`` returns —
    a crash inside the window between the body's own commit and the
    marker leaves one batch replayable (the window is the marker
    write, not the whole batch). Closing even that requires committing
    data + batch id in ONE atomic operation (a versioned merge keyed
    on batch id, or a transactional table format).

    ``keep_last`` bounds marker accumulation on a long-running stream:
    after writing batch N's marker, markers below N - keep_last are
    deleted. Safe because batch ids are monotone and a replay can only
    be of a batch AFTER the last committed checkpoint offset — ids
    thousands of batches back can never re-execute; without pruning a
    months-old stream turns the marker dir into exactly the small-file
    dust compact_small_files exists to fight. Pass ``keep_last=0`` to
    retain everything.
    """

    def wrapped(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        jvm = spark._jvm
        marker = jvm.org.apache.hadoop.fs.Path(f"{marker_dir}/batch_{batch_id}")
        fs = marker.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(marker):
            return
        fn(batch, batch_id)
        fs.create(marker, True).close()
        if keep_last:
            horizon = batch_id - keep_last
            if horizon > 0:
                dir_p = jvm.org.apache.hadoop.fs.Path(marker_dir)
                for st in fs.listStatus(dir_p):
                    name = st.getPath().getName()
                    if name.startswith("batch_"):
                        try:
                            old = int(name[len("batch_"):])
                        except ValueError:
                            continue
                        if old < horizon:
                            fs.delete(st.getPath(), False)

    return wrapped
