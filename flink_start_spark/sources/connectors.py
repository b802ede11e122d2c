"""Connector parity with the reference's declared (never-exercised)
connectors (SURVEY §2: build.sbt:19-24 declares Kafka, Cassandra and
JDBC/Postgres dependencies with docker-compose environments, but no call
site in the code ever uses them).

We mirror that surface honestly: fully-formed reader/writer builders for
each connector. Kafka and JDBC are exercised END-TO-END in-process —
Kafka via a byte-exact frame encode/decode round trip
(tests/test_kafka_roundtrip.py), JDBC via a live write->partitioned-read
round trip against embedded Derby (bundled with Spark's distribution;
tests/test_connectors.py asserts multiset equality plus filter/projection
pushdown into the JDBC scan). Cassandra needs the external
spark-cassandra-connector package, so it raises with installation
guidance when absent and stays config-gated (recorded decision: no
package installs in this container; the reference itself has zero call
sites, build.sbt:21).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamReader


def kafka_stream_reader(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> DataStreamReader:
    """Kafka streaming reader (reference: flink-connector-kafka,
    build.sbt:20; docker/kafka/docker-compose.yml ports 9092/29092).

    Returns the configured reader; ``.load()`` connects. Value payloads
    are bytes — pair with :func:`parse_kafka_json`.
    """
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )


def parse_kafka_json(raw: DataFrame, schema: T.StructType, ts_col: str | None = None) -> DataFrame:
    """Decode a Kafka frame's JSON value into typed columns; optionally
    parse an event-time column (the O2+O4 pipeline at the Kafka edge).
    Kafka metadata (topic/partition/offset/timestamp) is preserved — the
    offset is the natural arrival index for the count-trigger operator."""
    out = raw.select(
        F.col("topic"),
        F.col("partition"),
        F.col("offset"),
        F.col("timestamp").alias("kafka_ts"),
        F.from_json(F.col("value").cast("string"), schema).alias("v"),
    ).select("topic", "partition", "offset", "kafka_ts", "v.*")
    if ts_col:
        out = out.withColumn(ts_col, F.to_timestamp(F.col(ts_col)))
    return out


#: The Kafka sink's accepted frame schema (Spark's kafka writer
#: contract): `value` is REQUIRED (string or binary); everything else
#: optional. Any other column makes the write fail at runtime — the
#: validator turns that into a plan-build-time error.
KAFKA_SINK_FIELDS: dict[str, tuple[str, ...]] = {
    "key": ("string", "binary"),
    "value": ("string", "binary"),
    "topic": ("string",),
    "partition": ("int",),
    # full element type, not just "array": the writer requires exactly
    # array<struct<key:string,value:binary>> and a wrong element type
    # (e.g. array<string>) would pass a typeName()-only check and still
    # fail at runtime against a live broker
    "headers": ("array<struct<key:string,value:binary>>",),
}


def validate_kafka_frame(df: DataFrame) -> DataFrame:
    """Assert ``df`` matches the Kafka writer's (key, value, topic,
    partition, headers) schema contract — the runtime failure a live
    broker would raise, surfaced at plan build so it is testable
    without one."""
    names = [f.name for f in df.schema.fields]
    if "value" not in names:
        raise ValueError(f"Kafka frame requires a 'value' column; got {names}")
    for f in df.schema.fields:
        allowed = KAFKA_SINK_FIELDS.get(f.name)
        if allowed is None:
            raise ValueError(
                f"column '{f.name}' is not a Kafka frame field "
                f"(allowed: {sorted(KAFKA_SINK_FIELDS)})"
            )
        got = f.dataType.simpleString()
        if got not in allowed:
            raise ValueError(
                f"Kafka frame field '{f.name}' must be one of {allowed}, "
                f"got {got}"
            )
    return df


def encode_kafka_frame(
    df: DataFrame, key_col: str | None = None, topic: str | None = None
) -> DataFrame:
    """Serialize typed rows into the exact frame the Kafka sink writes:
    the whole row JSON-encoded into a binary ``value`` (the wire twin of
    :func:`parse_kafka_json`'s decode), an optional binary ``key``
    (Kafka's partitioner input — choose the same column you would
    ``keyBy`` so per-key ordering survives the broker), and an optional
    per-row ``topic``."""
    cols = []
    if key_col is not None:
        cols.append(F.col(key_col).cast("string").cast("binary").alias("key"))
    cols.append(F.to_json(F.struct(*df.columns)).cast("binary").alias("value"))
    if topic is not None:
        cols.append(F.lit(topic).alias("topic"))
    return validate_kafka_frame(df.select(*cols))


def jdbc_reader(
    spark: SparkSession,
    url: str,
    table: str,
    user: str = "docker",
    password: str = "docker",
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
):
    """JDBC reader (reference: postgres 42.2.2 driver, build.sbt:10,22-23;
    docker/postgres/docker-compose.yml user/pass 'docker', port 5432).

    At scale ALWAYS pass partition_column/bounds — without them the read
    is a single connection on one executor; with them Spark issues
    ``num_partitions`` range-bounded queries in parallel.
    """
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("user", user)
        .option("password", password)
    )
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", num_partitions)
            .option("lowerBound", lower_bound if lower_bound is not None else 0)
            .option("upperBound", upper_bound if upper_bound is not None else 1 << 31)
        )
    return reader


def jdbc_writer(df: DataFrame, url: str, table: str, user: str = "docker", password: str = "docker", mode: str = "append"):
    return (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("user", user)
        .option("password", password)
        .mode(mode)
    )


def cassandra_writer(df: DataFrame, keyspace: str, table: str):
    """Cassandra sink (reference: flink-connector-cassandra, build.sbt:21;
    docker/cassandra/docker-compose.yml port 9042, helper cql.sh).

    Requires the external spark-cassandra-connector package on the
    classpath (DataSource V2, ``org.apache.spark.sql.cassandra``)."""
    spark = df.sparkSession
    try:
        spark._jvm.Class.forName(  # type: ignore[union-attr]
            "com.datastax.spark.connector.datasource.CassandraCatalog"
        )
    except Exception as exc:  # noqa: BLE001
        raise ImportError(
            "spark-cassandra-connector not on the classpath; launch with "
            "--packages com.datastax.spark:spark-cassandra-connector_2.13:3.5.1"
        ) from exc
    return (
        df.write.format("org.apache.spark.sql.cassandra")
        .option("keyspace", keyspace)
        .option("table", table)
    )
