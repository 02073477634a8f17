"""Structured Streaming operators over the events schema.

The reference has no streaming surface (SURVEY §2.8); this module is
the beyond-parity extension: the same windowed/sessionized aggregations
exposed in batch form by ``__spark_entry__`` (events_hourly,
events_sessionize), expressed as Structured Streaming plans with
watermarks, so the identical logic runs incrementally over a file
(or Kafka) source at scale.

Batch/stream parity is by construction: ``hourly_counts`` and
``sessionize`` accept either a batch or a streaming DataFrame — the
transformations are identical; only the source/sink differ. Tests
drive them with the file source against testdata partitions.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "EVENTS_SCHEMA",
    "events_schema",
    "ts_micros_expr",
    "event_time_expr",
    "normalize_events",
    "read_events_stream",
    "parse_event_payloads",
    "read_events_kafka",
    "hourly_counts",
    "sessionize",
    "dedupe_stream",
    "running_user_totals",
    "join_events_within",
    "start_to_memory",
]


def events_schema(ts_type: T.DataType | None = None) -> T.StructType:
    """The events row schema, parameterized on the physical ``ts`` type.

    The fixture generator has shipped ``ts`` both as TIMESTAMP(NANOS)
    (readable only as raw long ns via the ``nanosAsLong`` escape hatch)
    and as plain ``timestamp[us]``; downstream operators must work with
    either, so the schema is a function of the layout, not a constant.
    """
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type or T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


# default layout: current fixtures store ts as timestamp[us] (NTZ)
EVENTS_SCHEMA = events_schema()


def ts_micros_expr(ts_dtype: str, col: str = "ts"):
    """Exact epoch-microseconds (BIGINT) from the raw ``ts`` column,
    dispatching on its physical type:

    - long: raw nanoseconds (legacy TIMESTAMP(NANOS) via nanosAsLong);
      integer-divide by 1000 — double division of an ~1.7e18 ns value
      would lose precision past 2^53.
    - timestamp / timestamp_ntz: ``unix_micros`` after a cast to
      session-zone timestamp. The engine pins the session zone to UTC
      (session.py), so NTZ wall-clock micros equal DuckDB's
      ``epoch_us(ts)`` bit-for-bit.
    """
    if ts_dtype in ("bigint", "long"):
        return F.expr(f"{col} div 1000")
    if ts_dtype.startswith("timestamp"):
        return F.unix_micros(F.col(col).cast("timestamp"))
    raise TypeError(
        f"events.{col} has unsupported type {ts_dtype!r}; expected long "
        "nanoseconds or a timestamp type"
    )


def event_time_expr(ts_dtype: str, col: str = "ts"):
    """``ts`` normalized to a session-zone TIMESTAMP event-time column."""
    return F.timestamp_micros(ts_micros_expr(ts_dtype, col))


def normalize_events(df: DataFrame) -> DataFrame:
    """Append ``event_time`` (timestamp) derived from whatever physical
    ``ts`` type the source carries. Works on batch and streaming frames
    (type dispatch is on the resolved schema, not the data)."""
    ts_dtype = dict(df.dtypes)["ts"]
    return df.withColumn("event_time", event_time_expr(ts_dtype))


def read_events_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """File-source stream of events parquet (one dir = one stream).

    The stream schema is taken from a batch footer read of the same
    path, so whichever ``ts`` layout the files carry (long nanos or
    timestamp[us]) resolves correctly. A not-yet-populated source
    directory (the normal streaming bootstrap order: start the stream,
    then the producer) falls back to the current fixture layout
    (``EVENTS_SCHEMA``). ``maxFilesPerTrigger`` bounds per-microbatch
    work; on a real deployment swap for the Kafka source — every
    transformation downstream is source-agnostic.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # resolve the bootstrap schema from one parquet footer on the
    # DRIVER (nanos columns -> long, mirroring the conf above) — the
    # batch-read probe this replaces submitted one Spark inference JOB
    # per stream START on Spark 4
    from parq_tools_spark.sources.parquet_io import _footer_schema

    schema = _footer_schema(spark, path, nanos_as_long=True)
    if schema is None:
        try:
            schema = spark.read.parquet(path).schema  # inference fallback
        except Exception:  # empty/absent dir: no footers to probe yet
            schema = EVENTS_SCHEMA
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )
    return normalize_events(stream)


def parse_event_payloads(
    df: DataFrame,
    value_col: str = "value",
    ts_type: T.DataType | None = None,
) -> DataFrame:
    """Decode JSON event payloads (one event per message) into the
    events schema + ``event_time``.

    This is the Kafka value decoder, factored out so it is testable on
    batch DataFrames without a broker: it takes any DataFrame with a
    string/binary ``value_col`` and returns typed event rows.
    ``ts_type`` selects the payload's timestamp encoding (ISO string →
    TimestampNTZType, the default; long nanos → LongType for legacy
    producers). Malformed payloads yield null fields (from_json
    PERMISSIVE mode) rather than failing the stream.
    """
    schema = events_schema(ts_type)
    # default JSON timestamp rendering is millisecond-precision; events
    # carry micros, so pin a micros-capable parse format (the trailing
    # fraction is optional so second-precision payloads still decode)
    opts = {
        "timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss[.SSSSSS]",
        "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss[.SSSSSS][XXX]",
    }
    parsed = df.select(
        F.from_json(F.col(value_col).cast("string"), schema, opts).alias("e")
    )
    return normalize_events(parsed.select("e.*"))


def read_events_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
    max_offsets_per_trigger: Optional[int] = None,
) -> DataFrame:
    """Kafka source for the events stream (JSON payloads).

    Requires the ``spark-sql-kafka-0-10`` connector on the classpath
    (``--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<ver>``);
    raises a clear error if it is absent. ``maxOffsetsPerTrigger``
    bounds per-microbatch work the way ``maxFilesPerTrigger`` does for
    the file source. Every transformation downstream
    (:func:`hourly_counts`, :func:`sessionize`,
    :func:`running_user_totals`) is source-agnostic.
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", max_offsets_per_trigger)
    try:
        raw = reader.load()
    except Exception as exc:  # connector jar absent
        raise RuntimeError(
            "Kafka source unavailable: the spark-sql-kafka-0-10 connector "
            "is not on the classpath. Submit with --packages "
            "org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>."
        ) from exc
    return parse_event_payloads(raw, "value")


def hourly_counts(
    events: DataFrame,
    watermark: str = "2 hours",
    window_duration: str = "1 hour",
) -> DataFrame:
    """Tumbling event-time window counts + sums with a watermark.

    Late rows beyond the watermark are dropped and window state is
    evicted — bounded state at any scale. Works on batch DataFrames
    too (watermark is a no-op there), giving batch/stream parity with
    ``__spark_entry__.q_events_hourly``.
    """
    with_wm = (
        events.withWatermark("event_time", watermark)
        if events.isStreaming
        else events
    )
    return (
        with_wm.groupBy(
            F.window("event_time", window_duration).alias("win"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session windows per user (gap-based) — Spark's native session
    window operator, the streaming analogue of the batch lag/cumsum
    sessionization."""
    with_wm = (
        events.withWatermark("event_time", watermark)
        if events.isStreaming
        else events
    )
    return (
        with_wm.groupBy(
            F.session_window("event_time", gap).alias("sess"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "n_events",
        )
    )


def running_user_totals(events: DataFrame, timeout_minutes: int = 60) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``:
    per-user running event count + value sum, emitted every microbatch.

    Demonstrates arbitrary state management (the escape hatch when
    built-in windows can't express the semantics): state is one
    (count, sum) pair per user, evicted after ``timeout_minutes`` of
    processing-time inactivity — bounded state at any user cardinality.

    Because the timeout runs on processing time, Spark plans a no-data
    batch after every batch to fire expirations, so a query over this
    operator never finishes by itself: under ``trigger(availableNow=True)``
    or ``once`` it keeps running, and ``processAllAvailable()`` never
    returns. To drain a bounded input (a backfill), poll
    ``query.recentProgress`` until a batch with ``numInputRows == 0``
    follows the data batches, read the sink, then ``query.stop()``.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def join_events_within(
    left: DataFrame,
    right: DataFrame,
    keys: tuple[str, ...] = ("user_id",),
    within: str = "60 seconds",
    watermark: str = "2 hours",
    left_prefix: str = "l_",
    right_prefix: str = "r_",
) -> DataFrame:
    """Stream-stream INNER join banded on event time: pairs of events
    with equal ``keys`` whose event times are within ``within`` of each
    other (e.g. correlate clicks with purchases per user).

    This is Spark's bounded-state stream-stream join: the equality
    keys partition state, the two-sided time-range condition plus the
    watermark let the engine evict state older than
    ``watermark + within`` — memory is bounded by rate x horizon at
    any stream length. Works on batch frames too (watermarks are
    skipped; the join condition is identical), giving batch/stream
    parity for tests and backfills. Output columns are prefix-renamed
    so self-joins of one stream are legal.
    """
    if left.isStreaming:
        left = left.withWatermark("event_time", watermark)
    if right.isStreaming:
        right = right.withWatermark("event_time", watermark)
    l = left.select(
        *[F.col(k).alias(f"{left_prefix}{k}") for k in keys],
        *[
            F.col(c).alias(f"{left_prefix}{c}")
            for c in left.columns
            if c not in keys
        ],
    )
    r = right.select(
        *[F.col(k).alias(f"{right_prefix}{k}") for k in keys],
        *[
            F.col(c).alias(f"{right_prefix}{c}")
            for c in right.columns
            if c not in keys
        ],
    )
    cond = [
        F.col(f"{left_prefix}{k}") == F.col(f"{right_prefix}{k}") for k in keys
    ] + [
        F.col(f"{right_prefix}event_time")
        >= F.expr(f"{left_prefix}event_time - INTERVAL {within}"),
        F.col(f"{right_prefix}event_time")
        <= F.expr(f"{left_prefix}event_time + INTERVAL {within}"),
    ]
    joined = l.join(r, cond, "inner")
    # fold the duplicated equality keys back to one column each
    for k in keys:
        joined = joined.withColumnRenamed(f"{left_prefix}{k}", k).drop(
            f"{right_prefix}{k}"
        )
    return joined


def dedupe_stream(
    events: DataFrame,
    id_cols: tuple[str, ...] = ("event_id",),
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup with bounded state.

    ``dropDuplicatesWithinWatermark``: duplicate arrivals within the
    watermark horizon are suppressed and per-key state is evicted once
    the watermark passes — memory is bounded by the event rate times
    the horizon, not the stream length (a plain ``dropDuplicates`` on
    a stream keeps every key forever). Batch DataFrames fall back to
    ``dropDuplicates`` for batch/stream parity.
    """
    if not events.isStreaming:
        return events.dropDuplicates(list(id_cols))
    return events.withWatermark("event_time", watermark).dropDuplicatesWithinWatermark(
        list(id_cols)
    )


def start_to_memory(
    df: DataFrame, name: str, output_mode: str = "append"
):
    """Run a streaming plan into an in-memory table (tests/demos)."""
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
