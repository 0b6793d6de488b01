"""The CDC ingest pipeline, streaming form (SURVEY.md §3.2 Spark mapping).

Source options:
- file stream of Debezium-shaped JSON events (tests / fixture replay —
  stands in for the Kafka topic exactly like the reference's seed data);
- Kafka (``streaming.kafka``) when the connector jar + broker exist.

The transform chain is the *batch* operators unchanged (unwrap →
mv_users) — batch-first design means streaming reuses them verbatim.
The sink is the ``foreachBatch`` body the caller passes — a
``sinks.manifest.ManifestTable`` MERGE (``merge_upsert``) or part ingest
(``append_parts``), the package's one table-commit protocol — with
per-batch redelivery dedup (A19) applied against the batch, and the
``latest`` view (A20) computed at read time (``ManifestTable.read_latest``).

Exactly-once posture: checkpointing + deterministic batch dedup +
last-wins merge + an atomic manifest commit. A micro-batch that fails
before its commit leaves the previous snapshot current; the checkpoint
replays it on restart and the orphaned files are reclaimed by
``ManifestTable.vacuum``.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from postgre_to_clickhouse_spark.cdc import mv_users, unwrap
from postgre_to_clickhouse_spark.cdc.schemas import KAFKA_CDC_RECORD
from postgre_to_clickhouse_spark.sinks.manifest import ManifestTable


def read_json_event_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-based change stream: one JSON event per line, shaped like
    KAFKA_CDC_RECORD (the Kafka-topic stand-in for tests/replay)."""
    reader = spark.readStream.schema(KAFKA_CDC_RECORD).option("multiLine", "false")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.json(path)


def transform(stream_df: DataFrame) -> DataFrame:
    """The standing query of the materialized view — identical code for
    batch and streaming inputs (A12–A18)."""
    return mv_users(unwrap(stream_df))


def write_events_as_json(events: DataFrame, path: str, n_files: int = 1) -> None:
    """Fixture helper: materialize a CDC event DataFrame as a JSON file
    stream source directory (one file per micro-batch when n_files>1)."""
    os.makedirs(path, exist_ok=True)
    rows = [r.asDict(recursive=True) for r in events.collect()]
    chunks = [rows[i::n_files] for i in range(n_files)]
    for i, chunk in enumerate(chunks):
        with open(os.path.join(path, f"batch_{i:05d}.json"), "w") as f:
            for r in chunk:
                if r.get("kafka_timestamp") is not None:
                    r["kafka_timestamp"] = r["kafka_timestamp"].strftime("%Y-%m-%dT%H:%M:%S.%f")
                f.write(json.dumps(r) + "\n")


def _start(stream: DataFrame, sink, checkpoint_path: str, available_now: bool):
    """Run ``sink`` as the foreachBatch body of ``stream``.

    ``available_now=True`` drains the source and stops (test mode /
    backfill); otherwise runs continuous micro-batches (A24).
    """
    writer = stream.writeStream.foreachBatch(sink).option("checkpointLocation", checkpoint_path)
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.trigger(processingTime="5 seconds").start()


def run_pipeline(
    spark: SparkSession,
    source_path: str,
    sink: Callable[[DataFrame, int], None],
    checkpoint_path: str,
    available_now: bool = True,
):
    """End-to-end: file stream → unwrap → MV transform → ``sink``.

    ``sink`` is the foreachBatch body, normally
    ``ManifestTable(path).merge_upsert()`` or ``.append_parts()``.
    """
    stream = transform(read_json_event_stream(spark, source_path))
    return _start(stream, sink, checkpoint_path, available_now)


def run_pipeline_avro_frames(
    spark: SparkSession,
    frames_path: str,
    table_path: str,
    checkpoint_path: str,
    schemas_by_id: dict[int, str],
    reader_schema_json: str,
    available_now: bool = True,
):
    """Kafka-replay shape with SCHEMA EVOLUTION: a stream of Confluent-
    framed Avro values (``value binary`` — exactly what the Kafka source
    yields) decodes per record under its writer schema, resolves to one
    reader schema (``cdc.avro_py.decode_confluent_avro_arrow_evolving``),
    and merges into the ``ManifestTable`` at ``table_path``
    (last-wins on ``updated_at``, redeliveries resolved by
    ``created_at``). One streaming query keeps ingesting across a CDC
    schema migration mid-topic — the registry-compatibility behavior
    the reference delegates to Confluent SR + AvroConfluent.
    """
    from postgre_to_clickhouse_spark.cdc.avro_py import (
        decode_confluent_avro_arrow_evolving,
    )

    stream = spark.readStream.schema("value binary").format("parquet").load(frames_path)
    upsert = ManifestTable(table_path).merge_upsert(arrival=("created_at",))

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        decoded = decode_confluent_avro_arrow_evolving(
            batch_df, schemas_by_id, reader_schema_json
        )
        upsert(decoded, batch_id)

    return _start(stream, _apply, checkpoint_path, available_now)
