"""Kafka source/sink wrappers for the streaming surface.

Reference analog: none — the reference's streams are in-memory sequences
(Engines/Streaming.hs:85-88); a durable log source is part of the
north-star production surface.  The design splits each wrapper into

* a CONFIG stage (``kafka_stream_reader`` / ``kafka_stream_writer``) that
  only wires the Spark Kafka connector options — untestable without a
  broker + the ``spark-sql-kafka`` package, so tests gate on connector
  availability and the module fails with a clear message, and
* a PARSE/ENCODE stage (``parse_kafka_json`` / ``to_kafka_json``) that is
  pure DataFrame logic over Kafka's fixed wire schema (key/value binary +
  topic/partition/offset/timestamp) — fully testable on static frames and
  identical in batch and streaming (tests/test_streaming.py).

Every downstream operator (``stream_mapreduce``, ``sessionize_stateful``,
``stateful_fold`` …) consumes the parsed frame, so the file-replay source
used in tests (``read_parquet_stream``) and a Kafka topic drive literally
the same plans — swapping the source is a one-call change.

100 TB shape: one Spark input partition per Kafka topic-partition by
default (``minPartitions`` fans out hot topics further);
``maxOffsetsPerTrigger`` is the backpressure knob bounding micro-batch
size; the sink's ``kafka.*`` options pass through to the producer.  The
parse stage is pure Catalyst (``from_json``/``to_json``) — no Python in
the per-record path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: Kafka's fixed wire schema (what every Kafka batch/stream scan returns).
KAFKA_WIRE_SCHEMA = (
    "key binary, value binary, topic string, partition int, offset long, "
    "timestamp timestamp, timestampType int"
)


def kafka_stream_reader(
    spark: SparkSession,
    bootstrap_servers: str,
    topics: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
    min_partitions: int | None = None,
    **options: str,
) -> DataFrame:
    """Subscribe to ``topics`` (comma-separated) as a streaming source.

    Returns the raw wire frame (:data:`KAFKA_WIRE_SCHEMA`); feed it to
    :func:`parse_kafka_json`.  Requires the ``spark-sql-kafka`` connector
    package on the classpath — absent it, Spark raises at ``load()`` and
    we re-raise with the fix spelled out."""
    r = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topics)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger is not None:
        r = r.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    if min_partitions is not None:
        r = r.option("minPartitions", str(min_partitions))
    for k, v in options.items():
        r = r.option(k, v)
    try:
        return r.load()
    except Exception as e:  # connector jar absent → actionable message
        raise RuntimeError(
            "Kafka source unavailable — add the connector package, e.g. "
            "--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark "
            f"version> (original: {e})"
        ) from e


def parse_kafka_json(
    raw: DataFrame,
    value_schema: str,
    include_meta: bool = True,
    corrupt_col: str | None = "_corrupt",
) -> DataFrame:
    """Decode a Kafka wire frame whose values are JSON documents.

    ``value_schema`` is a DDL string (e.g. ``"event_id long, ts timestamp,
    user_id long"``).  Output: one column per schema field, plus (when
    ``include_meta``) the log coordinates ``_topic/_partition/_offset`` —
    the exactly-once bookkeeping columns — and Kafka's ``_kafka_ts``.
    Malformed JSON yields null fields (PERMISSIVE), never a crashed batch.
    ``from_json`` alone makes malformed rows indistinguishable from rows
    whose fields are legitimately null (PERMISSIVE returns an all-null
    struct, not a null struct), so ``corrupt_col`` (default ``_corrupt``)
    routes ``columnNameOfCorruptRecord`` through the parse and emits a
    boolean flag: true exactly when the document failed to parse — filter
    on it for a dead-letter split, or count it as a data-quality metric.
    A null payload is NOT flagged (nothing to parse).  Pass
    ``corrupt_col=None`` to drop the flag.  Pure Catalyst; identical on
    batch frames (tests) and streams."""
    from pyspark.sql.types import StructType

    field_names = StructType.fromDDL(value_schema).fieldNames()
    if corrupt_col is None:
        vexpr = F.from_json(F.col("value").cast("string"), value_schema)
    else:
        raw_field = "__corrupt_raw"
        assert raw_field not in field_names, (
            f"value_schema may not contain the reserved field {raw_field}")
        vexpr = F.from_json(
            F.col("value").cast("string"),
            f"{value_schema}, {raw_field} string",
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": raw_field},
        )
    parsed = raw.select(
        F.col("key").cast("string").alias("_key"), vexpr.alias("v"),
        "topic", "partition", "offset", "timestamp",
    )
    cols: list[Column] = [F.col(f"v.{f}").alias(f) for f in field_names]
    if corrupt_col is not None:
        cols.append(F.col(f"v.{raw_field}").isNotNull().alias(corrupt_col))
    if include_meta:
        cols += [
            F.col("_key"),
            F.col("topic").alias("_topic"),
            F.col("partition").alias("_partition"),
            F.col("offset").alias("_offset"),
            F.col("timestamp").alias("_kafka_ts"),
        ]
    return parsed.select(*cols)


def to_kafka_json(
    df: DataFrame,
    key_col: str | None = None,
    value_cols: list[str] | None = None,
) -> DataFrame:
    """Encode rows for a Kafka sink: ``(key string|null, value string)``
    with ``value`` = JSON of ``value_cols`` (default: all non-key columns).
    Inverse of :func:`parse_kafka_json` for round-trip tests."""
    vcols = value_cols or [c for c in df.columns if c != key_col]
    out = [F.to_json(F.struct(*[F.col(c) for c in vcols])).alias("value")]
    if key_col is not None:
        out.insert(0, F.col(key_col).cast("string").alias("key"))
    return df.select(*out)


def kafka_stream_writer(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint_dir: str,
    output_mode: str = "append",
    trigger_seconds: int | None = None,
    **options: str,
):
    """Write an encoded ``(key, value)`` frame (see :func:`to_kafka_json`)
    to a Kafka topic.  Returns the started StreamingQuery; the checkpoint
    directory carries offsets+state for exactly-once resumption."""
    w = (
        df.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
    )
    if trigger_seconds is not None:
        w = w.trigger(processingTime=f"{trigger_seconds} seconds")
    for k, v in options.items():
        w = w.option(k, v)
    try:
        return w.start()
    except Exception as e:
        raise RuntimeError(
            "Kafka sink unavailable — add the connector package (see "
            f"kafka_stream_reader docstring) (original: {e})"
        ) from e
