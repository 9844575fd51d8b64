"""Batch sources (SURVEY.md §2.1 S8-S9 re-expressed, plus parquet-first).

The reference reads multiline JSON off HDFS with schema inference
(``dags/scripts/spark_daily_report.py:50,55``) — multiline JSON is
*unsplittable* (one task per file) and inference is an extra full pass;
both are disqualifying at 100 TB.  The engine's rules:

- Parquet first: columnar, splittable, predicate-pushdown + column
  pruning reach the scan.
- JSON/CSV readers take an explicit schema and PERMISSIVE mode with a
  corrupt-record column (the preprocess notebook used
  ``on_bad_lines='warn'``, datashow.ipynb cell 49).
"""

from __future__ import annotations

import os
import stat
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ssafynews_data_spark.schemas import TESTDATA_SCHEMAS

TESTDATA_TABLES = tuple(TESTDATA_SCHEMAS)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _ensure_session_conf(spark: SparkSession) -> None:
    """Make queries correct on ANY caller-provided session (the driver
    builds a plain one, not our factory): nanos-parquet readability and
    UTC session time so date/timestamp formatting is deterministic and
    matches DuckDB's UTC-naive timestamps."""
    for k, v in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
        # engine expressions rely on Java long wrap-around (minhash's
        # multiply-shift hashing); Spark 4 defaults ANSI on, which throws
        ("spark.sql.ansi.enabled", "false"),
        # the feed DataSource implements pushFilters(); with this off,
        # Spark REFUSES to load any source that implements the method
        ("spark.sql.python.filterPushdown.enabled", "true"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:  # conf not recognized/settable on this build
            pass


#: most tables kept resolved at once, over all sessions (least recently
#: used goes first)
TABLE_MEMO_MAX = 64

_MEMO: OrderedDict[tuple[str, str], tuple[tuple, DataFrame]] = OrderedDict()
_MEMO_LOCK = threading.Lock()


def _file_identity(path: str) -> tuple:
    """What changes when a table's files change: inode, mtime and size of
    ``path`` and, for a directory, the relative name, mtime and size of
    every entry below it.  Raises ``OSError`` for a path the local file
    system cannot see."""
    st = os.stat(path)
    ident = [(st.st_ino, st.st_mtime_ns, st.st_size)]
    if stat.S_ISDIR(st.st_mode):
        stack = [(path, "")]
        while stack:
            d, rel = stack.pop()
            with os.scandir(d) as it:
                for e in sorted(it, key=lambda e: e.name):
                    est = e.stat()
                    ident.append((rel + e.name, est.st_mtime_ns, est.st_size))
                    if stat.S_ISDIR(est.st_mode):
                        stack.append((e.path, rel + e.name + "/"))
    return tuple(ident)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One testdata table, resolved once per session and file version.

    The finished DataFrame of :func:`_read_table` is lazy — plan and
    metadata, never rows — so it is kept per (Spark session, absolute
    path) together with the path's :func:`_file_identity`, and handed
    out again while that identity holds.  A rewritten file, a file
    added to or removed from a directory table, or another session
    (``spark.newSession()``) resolves afresh.  At most
    ``TABLE_MEMO_MAX`` tables are kept; the memo is safe to use from
    ``run_parallel`` threads.  Paths the local file system cannot stat
    (remote stores, missing tables) are read without it.  Two calls
    return the same frame, so a self-join of one table aliases its
    sides, as any self-join of one DataFrame must.
    """
    _ensure_session_conf(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    jsession = getattr(spark, "_jsparkSession", None)
    try:
        ident = _file_identity(path)
    except OSError:
        ident = None
    if jsession is None or ident is None:
        return _read_table(spark, path, name)
    key = (jsession.sessionUUID(), os.path.abspath(path))
    with _MEMO_LOCK:
        hit = _MEMO.get(key)
        if hit is not None and hit[0] == ident:
            _MEMO.move_to_end(key)
            return hit[1]
    df = _read_table(spark, path, name)
    with _MEMO_LOCK:
        _MEMO[key] = (ident, df)
        _MEMO.move_to_end(key)
        while len(_MEMO) > TABLE_MEMO_MAX:
            _MEMO.popitem(last=False)
    return df


def _read_table(spark: SparkSession, path: str, name: str) -> DataFrame:
    """Read one testdata table. Parquet scan — pushdown/pruning are free.

    Timestamp columns are normalized to session-TZ ``TIMESTAMP`` whatever
    the fixture's physical encoding is:

    - ``TIMESTAMP(NANOS)`` parquet → Spark reads long nanos
      (``spark.sql.legacy.parquet.nanosAsLong``) → exact integer div to
      micros — the same truncation DuckDB applies, so oracles agree.
    - ``timestamp[us]`` (isAdjustedToUTC=false) → Spark reads
      ``TIMESTAMP_NTZ`` → cast to ``TIMESTAMP``; under the pinned UTC
      session TZ the cast preserves the wall-clock instant, which is what
      DuckDB (UTC-naive) sees.
    """
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    for field in df.schema.fields:
        want = TESTDATA_SCHEMAS.get(name, T.StructType([]))
        want_field = next((f for f in want.fields if f.name == field.name), None)
        if want_field is None or not isinstance(want_field.dataType, T.TimestampType):
            continue
        if isinstance(field.dataType, T.LongType):
            # Integer division, NOT F.floor(col / 1000): Spark's `/` on
            # longs is double division, and 2024-era epoch nanos (~1.7e18)
            # exceed double's 53-bit exact range (ulp = 256 ns), so the
            # floored quotient drifts ±1 µs vs DuckDB's exact truncation.
            df = df.withColumn(
                field.name,
                F.timestamp_micros(F.expr(f"`{field.name}` div 1000")),
            )
        elif isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TESTDATA_TABLES)}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register testdata tables as temp views for the SQL API."""
    for n, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(n)


def read_json_articles(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """JSONL scan with explicit schema (replaces spark_daily_report.py:55).

    The reference used ``option("multiline","true")`` which forces one
    task per file; the engine standardizes on line-delimited JSON which
    splits at block boundaries.
    """
    return (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )


def read_pipe_csv(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Pipe-delimited permissive CSV scan (datashow.ipynb cells 4/49)."""
    return (
        spark.read.schema(schema)
        .option("sep", "|")
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("multiLine", "false")
        .csv(path)
    )


def read_kafka_like_json(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Batch stand-in for the Kafka source (collect/consumer.py:152-159):
    value column of JSON strings → parsed struct → flattened columns."""
    from pyspark.sql import functions as F

    raw = spark.read.text(path)  # one JSON message per line, like a topic dump
    return raw.select(F.from_json(F.col("value"), schema).alias("m")).select("m.*")


def read_kafka_stream(
    spark: SparkSession,
    bootstrap: str,
    topic: str,
    schema: T.StructType,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """S3/S4 real Kafka source (collect/consumer.py:152-159): JSON value
    messages → parsed struct → flattened columns, exactly the shape of
    ``read_kafka_like_json``.  Offsets are managed by the streaming
    checkpoint (the engine replacement for the reference's manual
    ``consumer.commit()``); pair with ``sinks.foreach_batch_upsert`` for
    effectively-once delivery.

    Requires the ``spark-sql-kafka`` connector on the classpath — see
    ``kafka_connector_available`` and tests/test_kafka_gated.py (the
    test image has no connector jar and no network, so the integration
    path is exercised only where a broker + jar exist).
    """
    from pyspark.sql import functions as F

    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", "false")
        .load()
    )
    return (
        raw.select(F.col("value").cast("string").alias("value"))
        .select(F.from_json(F.col("value"), schema).alias("m"))
        .select("m.*")
    )


def kafka_connector_available(spark: SparkSession) -> bool:
    """True when the spark-sql-kafka DataSource can be resolved."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:
        return False


def read_evolving_parquet(
    spark: SparkSession, path: str, contract: T.StructType
) -> DataFrame:
    """Schema-drift tolerant scan: shards written across pipeline
    versions (columns added/dropped over time) read as ONE frame with a
    fixed output contract.

    ``mergeSchema`` unions the footer schemas (per-file reconciliation,
    a one-time footer pass — cheap relative to the scan), then the
    contract projection casts present columns and nulls missing ones,
    so downstream operators never branch on shard vintage.  Columns a
    shard never wrote are read as NULL from that shard — parquet's
    column-absence semantics, which is exactly the evolution contract
    batch re-processing wants.  A column whose TYPE changed
    incompatibly still fails loudly at merge time — silent coercion
    across type changes is a data bug, not evolution."""
    from pyspark.sql import functions as F

    df = spark.read.option("mergeSchema", "true").parquet(path)
    cols = []
    for field in contract.fields:
        if field.name in df.columns:
            cols.append(F.col(field.name).cast(field.dataType).alias(field.name))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    return df.select(*cols)
