"""Parquet table sources for the driver-generated test data.

Plays the role of the reference's producers (``with_inputs`` /
``with_producer``, reference src/pipeline/builder.rs:41-119) for
file-backed data: a declarative ``spark.read`` whose scan Catalyst can
push filters/projection into. At 100 TB these would be partitioned
directories; the reader code is identical. Each file's schema is
inferred once per file version and memoized, so only the first load of
a file version launches a Spark job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from async_pipes_spark.session import ensure_engine_confs
from async_pipes_spark.sources.sinks import _hadoop_fs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: path → (file identity, schema inferred under the engine's confs).
#: Parquet schema inference launches a one-task footer job on every
#: ``spark.read.parquet``, even for a single file; a read with the
#: schema given launches none. The identity is each leaf file's (path,
#: length, modification time), so a rewrite at the same path infers
#: again and the memo holds one entry per path.
_SCHEMA_MEMO: dict[str, tuple[tuple, StructType]] = {}


#: the ONE events ns→µs conversion, shared by the batch reader and the
#: streaming twin (stream_table) so they can never drift: exact integer
#: FLOOR division — bare `div` truncates toward zero, which would round
#: a pre-epoch nanosecond timestamp UP a microsecond relative to the
#: documented floor conversion (pmod is non-negative, so subtracting it
#: makes the dividend exactly divisible)
EVENTS_NS_TO_TS = "timestamp_micros((ts - pmod(ts, 1000)) div 1000)"


def _file_identity(spark: SparkSession, path: str) -> tuple:
    """(path, length, mtime) of every leaf file ``path`` names: one
    file, the files under a directory (whose own mtime misses rewrites
    of nested files), or a glob's matches. Empty if nothing matches, so
    the inferred read raises its usual error."""
    fs, p, _ = _hadoop_fs(spark, path)
    leaves = []
    for st in fs.globStatus(p) or ():
        if not st.isDirectory():
            leaves.append((st.getPath().toString(), st.getLen(), st.getModificationTime()))
            continue
        files = fs.listFiles(st.getPath(), True)
        while files.hasNext():
            f = files.next()
            leaves.append((f.getPath().toString(), f.getLen(), f.getModificationTime()))
    return tuple(sorted(leaves))


def read_parquet_table(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema taken from
    :data:`_SCHEMA_MEMO` while the file is unchanged, so only the first
    read of each file version pays the inference job."""
    ensure_engine_confs(spark)
    ident = _file_identity(spark, path)
    hit = _SCHEMA_MEMO.get(path)
    if hit is not None and hit[0] == ident:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMA_MEMO[path] = (ident, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table (schema memoized per file version, see
    :func:`read_parquet_table`).

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS) which Spark
    cannot represent; we read it as a nanosecond Long (legacy conf) and
    floor-convert to a microsecond TimestampType — the same truncation
    DuckDB's ``CAST(ts AS TIMESTAMP)`` performs, so oracle comparisons
    line up.
    """
    df = read_parquet_table(spark, f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr(EVENTS_NS_TO_TS))
    return normalize_ntz(df)


def normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast any TIMESTAMP_NTZ column to TimestampType (wall-clock
    identity under the engine's pinned UTC session tz).

    Belt-and-suspenders behind the INFER_NTZ conf in session.py: a
    caller-supplied session that ignores runtime conf changes still gets
    watermark-/unix_micros-compatible TimestampType columns.
    """
    ntz = [f.name for f in df.schema.fields if f.dataType.simpleString() == "timestamp_ntz"]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str, names=TABLES) -> None:
    """Register each table as a temp view (SQL entry point)."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
