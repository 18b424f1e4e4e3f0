"""Batch and streaming readers.

The reference's only source is ``env.readTextFile`` + manual ``split(",")``
(VehicleTelematics.java:42-56, CongestionArea.java:31-42,
SaturatedVendor.java:38-49).  Here schema-on-read replaces hand parsing:
Catalyst prunes unread columns at the scan, and the same schema serves batch
(``spark.read``) and streaming (``spark.readStream``) unchanged.

Tolerant-parse semantics preserved from the reference:
- ``Integer.parseInt`` throws on garbage (VehicleTelematics.java:51) — we use
  strict casts; malformed rows become nulls under PERMISSIVE mode rather than
  job failures (a deliberate robustness upgrade, recorded here).
- ``NumberUtils.toDouble`` returns 0.0 on garbage, and short 17-column rows
  have no ``congestion_surcharge`` (CongestionArea.java:39-40) — reproduced
  with ``coalesce(cast, 0.0)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudcomputing_flink_application_spark import schemas


def read_car_reports(spark: SparkSession, path: str, streaming: bool = False) -> DataFrame:
    """Car-report CSV (8 ints, no header) -> CAR_REPORTS frame."""
    reader = spark.readStream if streaming else spark.read
    return reader.schema(schemas.CAR_REPORTS).csv(path)


def read_taxi_trips(spark: SparkSession, path: str, streaming: bool = False) -> DataFrame:
    """Yellow-taxi CSV (19 cols, no header) -> TAXI_TRIPS frame.

    Missing ``congestion_surcharge`` (17-column rows) parses as null under
    PERMISSIVE mode and is coalesced to 0.0, matching
    CongestionArea.java:39-40.
    """
    reader = spark.readStream if streaming else spark.read
    df = reader.schema(schemas.TAXI_TRIPS).option("mode", "PERMISSIVE").csv(path)
    return df.withColumn(
        "congestion_surcharge",
        F.coalesce(F.col("congestion_surcharge").cast("double"), F.lit(0.0)),
    )


def parse_kafka_csv(raw: DataFrame, schema) -> DataFrame:
    """Decode Kafka records carrying CSV payloads into a typed frame.

    Takes any frame with Kafka's wire shape (binary ``value`` plus key/
    topic/partition/offset/... metadata) and applies the CSV-decode DAG:
    ``value`` bytes -> string -> ``from_csv`` against the target schema.
    Split from the source so the parse contract is testable without the
    spark-sql-kafka package on the classpath (tests/test_cli.py drives it
    on a static Kafka-shaped frame).
    """
    return raw.select(
        F.from_csv(F.col("value").cast("string"), schema.simpleString()).alias("r")
    ).select("r.*")


def read_kafka_csv_stream(
    spark: SparkSession, bootstrap: str, topic: str, schema, **options: str
) -> DataFrame:
    """Kafka source for CSV-encoded records.

    The reference declares the Flink Kafka connector but never uses it
    (YellowTaxi/pom.xml:81-83, VehicleTelematics/pom.xml:81-83 — SURVEY.md
    §2.1); this is the working Spark equivalent.  Requires the
    spark-sql-kafka package on the classpath (not in this environment —
    DataSource resolution raises at call time, so the function is gated by
    construction rather than an import guard).  The record-decode DAG is
    ``parse_kafka_csv``, contract-tested offline; the broker-backed
    roundtrip is tests/test_optional_integrations.py (``pytest.mark.kafka``).

    Extra ``options`` pass through to the source verbatim (e.g.
    ``startingOffsets="earliest"``, ``maxOffsetsPerTrigger``).
    """
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .options(**options)
        .load()
    )
    return parse_kafka_csv(raw, schema)


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver ``events`` table with ``ts`` normalized to a microsecond
    TIMESTAMP, whatever physical type the parquet carries.

    The driver has shipped two layouts across rounds: TIMESTAMP(NANOS)
    (which Spark reads as epoch-nanos long under
    ``spark.sql.legacy.parquet.nanosAsLong``) and plain TIMESTAMP(MICROS)
    (read as TIMESTAMP_NTZ).  Normalizing on the ts column's OBSERVED type
    keeps the engine working across regenerations instead of pinning one
    vintage:

    - long: integer ``div 1000`` (never float division — epoch nanos exceed
      2^53) truncates to microseconds exactly as DuckDB's
      TIMESTAMP_NS -> TIMESTAMP cast does;
    - TIMESTAMP_NTZ: cast to session-zoned TIMESTAMP — the session is pinned
      UTC (registry._REQUIRED_CONFS), so wall-clock values match DuckDB's
      naive TIMESTAMP bit-for-bit.
    """
    from pyspark.sql import types as T

    from cloudcomputing_flink_application_spark.sources.scan_cache import (
        memo_parquet_scan,
    )

    # memoized scan (r14 optimization round): the sf dirs are write-once
    # driver testdata, and a plain read pays ~135 ms of listing + footer
    # schema work per call before any task runs (sources.scan_cache).
    # The ts normalization below stays per-call — cheap plan-only work.
    df = memo_parquet_scan(spark, f"{sf_dir}/events.parquet")
    if isinstance(df.schema["ts"].dataType, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def read_jsonl(
    spark: SparkSession, path: str, schema, streaming: bool = False
) -> DataFrame:
    """JSON-lines source with an enforced schema (no sampling inference).

    Schema-on-read matters doubly for JSON: without it Spark runs an extra
    full-data inference pass, and at 100 TB that pass IS a second job.  An
    explicit schema also keeps the scan prunable — reading two fields of a
    wide JSONL corpus parses only those paths.  Missing fields are null,
    malformed lines follow PERMISSIVE mode — same tolerant-parse contract as
    the CSV readers above.
    """
    reader = spark.readStream if streaming else spark.read
    return reader.schema(schema).json(path)


def read_documents_jsonl(
    spark: SparkSession, path: str, streaming: bool = False
) -> DataFrame:
    """``documents``-shaped JSONL (the interchange format of text-corpus
    pipelines); columns match ``schemas.DOCUMENTS`` exactly."""
    return read_jsonl(spark, path, schemas.DOCUMENTS, streaming)
