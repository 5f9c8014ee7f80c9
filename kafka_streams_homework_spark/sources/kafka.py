"""Kafka source/sink wiring — the reference's native edges.

Reference: ``builder.stream(PURCHASE_TOPIC_NAME, Consumed.with(String,
avro))`` (dsl/PriceAlertsApp.java:87-90) and ``.to(RESULT_TOPIC,
Produced.with(...))`` (dsl:134); Avro values resolved against a Schema
Registry (dsl:33-37).

Spark twin: the kafka data source (``spark-sql-kafka`` package) +
``from_avro``/``to_avro`` (``pyspark.sql.avro.functions``). Neither a
broker nor the kafka jars exist in this container, so the *transport*
(readStream.format("kafka")) is gated behind a clear error, while every
*record-shaping* step — key/value projection, Confluent wire-format
stripping, Avro/JSON value decode, sink payload layout — is a pure
DataFrame→DataFrame function, unit-tested on static frames with
fabricated binary payloads (tests/test_kafka.py). The batch parquet
path (sources/batch.py) is the data twin; streaming semantics are
exercised through file sources (tests/test_streaming.py).

Confluent wire format (magic byte 0x00 + 4-byte big-endian schema id +
Avro body): handled by ``confluent_schema_id``/``confluent_payload`` —
JVM-side substring/conv expressions, no Python in the row path.

Avro values: ``_from_avro`` uses the JVM ``from_avro`` when the
spark-avro jar is on the classpath; in jar-less environments (this
container) it falls back to the pure-Python Arrow-batched codec in
``sources/avro_codec.py``, so the Avro round-trip is actually
exercised rather than skipped.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_streams_homework_spark.sources.batch import local_frame

KAFKA_PACKAGE_HINT = (
    "kafka data source not available in this environment; submit with "
    "--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version> "
    "(and spark-avro for Avro values)"
)


# ---------------------------------------------------------------------------
# Record shaping (pure, broker-free, unit-tested)
# ---------------------------------------------------------------------------


def confluent_schema_id(value: Column) -> Column:
    """Schema-registry id from a Confluent-framed value: bytes 2-5,
    big-endian int (the registry lookup key)."""
    return F.conv(F.hex(F.substring(value, 2, 4)), 16, 10).cast("int")


def confluent_payload(value: Column) -> Column:
    """Strip the 5-byte Confluent prefix (magic 0x00 + schema id),
    leaving the raw Avro body for from_avro."""
    return F.substring(value, F.lit(6), F.length(value) - F.lit(5))


def decode_kafka_records(
    raw: DataFrame,
    avro_value_schema: str | None = None,
    json_value_schema: str | None = None,
    confluent_wire_format: bool = False,
) -> DataFrame:
    """Project kafka records (key/value/timestamp [+ topic/partition/
    offset]) to (key string, value, ts).

    - ``avro_value_schema`` (Avro JSON string): value decoded with
      from_avro — requires the spark-avro jar, gated with a clear error.
    - ``json_value_schema`` (DDL string): value cast to string and
      parsed with from_json — no extra jar, the non-Avro binary path.
    - ``confluent_wire_format``: strip the 5-byte registry prefix first
      (reference's registry client does this inside the serde,
      dsl/PriceAlertsApp.java:33-37).
    """
    value: Column = F.col("value")
    if confluent_wire_format:
        value = confluent_payload(value)
    out = raw.select(
        F.col("key").cast("string").alias("key"),
        value.alias("value"),
        F.col("timestamp").alias("ts"),
    )
    if avro_value_schema is not None:
        out = out.select(
            "key", _from_avro(F.col("value"), avro_value_schema).alias("value"), "ts"
        )
    elif json_value_schema is not None:
        out = out.select(
            "key",
            F.from_json(F.col("value").cast("string"), json_value_schema).alias(
                "value"
            ),
            "ts",
        )
    return out


_JVM_AVRO_AVAILABLE: bool | None = None


def _jvm_avro_available() -> bool:
    """Probe whether the spark-avro data source is loaded. PySpark 4's
    ``from_avro`` constructs a Column unconditionally and only raises
    AVRO_NOT_LOADED at analysis time, so probe by analyzing a zero-row
    frame once and cache the answer."""
    global _JVM_AVRO_AVAILABLE
    if _JVM_AVRO_AVAILABLE is None:
        try:
            from pyspark.sql import SparkSession
            from pyspark.sql.avro.functions import from_avro

            spark = SparkSession.getActiveSession()
            probe_schema = (
                '{"type":"record","name":"p","fields":'
                '[{"name":"x","type":"long"}]}'
            )
            local_frame(spark, [], "v binary").select(
                from_avro(F.col("v"), probe_schema)
            ).schema
            _JVM_AVRO_AVAILABLE = True
        except Exception:  # jar absent (AVRO_NOT_LOADED) or no session
            _JVM_AVRO_AVAILABLE = False
    return _JVM_AVRO_AVAILABLE


def _from_avro(value: Column, schema: str) -> Column:
    """JVM ``from_avro`` when the spark-avro jar is present (the scale
    path — zero Python in the row path), else the pure-Python
    Arrow-batched codec (sources/avro_codec.py). Same decoded struct
    either way, so the downstream plan is identical."""
    if _jvm_avro_available():
        from pyspark.sql.avro.functions import from_avro

        return from_avro(value, schema)
    from kafka_streams_homework_spark.sources.avro_codec import avro_decode_column

    return avro_decode_column(value, schema)


def kafka_sink_payload(df: DataFrame, key_col: str, value_expr: Column) -> DataFrame:
    """Shape a DataFrame for the kafka sink: exactly (key string,
    value) — the Produced.with(String, ...) contract (dsl:134)."""
    return df.select(
        F.col(key_col).cast("string").alias("key"), value_expr.alias("value")
    )


# ---------------------------------------------------------------------------
# Transport (requires spark-sql-kafka; gated)
# ---------------------------------------------------------------------------


def read_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    avro_value_schema: str | None = None,
    json_value_schema: str | None = None,
    confluent_wire_format: bool = False,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """KStream twin: subscribe a topic as a streaming DataFrame.

    Returns (key string, value, ts) — value decoded per
    ``decode_kafka_records``.
    """
    try:
        raw = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("subscribe", topic)
            .option("startingOffsets", starting_offsets)
            .load()
        )
    except Exception as ex:
        raise RuntimeError(KAFKA_PACKAGE_HINT) from ex
    return decode_kafka_records(
        raw,
        avro_value_schema=avro_value_schema,
        json_value_schema=json_value_schema,
        confluent_wire_format=confluent_wire_format,
    )


def write_kafka_stream(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint_location: str,
    key_col: str,
    value_expr: Column,
    output_mode: str = "update",
):
    """Kafka sink twin (dsl:134): keyed writes to a result topic.

    checkpoint_location ≡ the reference's application id + state dir
    (STATE_DIR_CONFIG, dsl:77) — restart resumes exactly-once from it.
    """
    payload = kafka_sink_payload(df, key_col, value_expr)
    try:
        return (
            payload.writeStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("topic", topic)
            .option("checkpointLocation", checkpoint_location)
            .outputMode(output_mode)
            .start()
        )
    except Exception as ex:
        raise RuntimeError(KAFKA_PACKAGE_HINT) from ex
