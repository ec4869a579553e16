"""Structured Streaming surface (``streaming.jobs``).

The reference is strictly batch (SURVEY.md §2.2: streaming absent); this
package extends its submit-and-wait driver loop onto micro-batches:

- sources and transforms: file-source streams over the fixtures, model
  scoring (``stream_assign``), watermarked windowed aggregation,
  stateful sessionization and SCD2 (``applyInPandasWithState``),
  interval joins and watermarked dedup;
- driver-side running models fed by ``foreachBatch``:
  ``StreamingKMeans``, ``StreamingCMS``, ``StreamingBottomK``;
- sinks: ``run_to_parquet``, ``run_to_memory`` and the partition-upsert
  landing ``stream_land_partitions``;
- ingest and merge runners that keep durable state: the dedup, chunk
  and semantic ingests (``stream_ingest_dedup``, ``stream_chunk_ingest``,
  ``stream_semantic_dedup``) and the CDC merge (``stream_cdc_merge``);
- maintenance runners: ``stream_agg_maintenance`` and its
  ``stream_*_maintenance`` report snapshots.

Every runner drains through one helper, ``jobs._drain`` (writeStream →
``processAllAvailable`` → stop, with ``<store>/_checkpoint`` for the
durable ones), which exercises the identical plan that would run against
Kafka on a cluster. Every durable ``foreachBatch`` body runs under one
batch-id marker guard, ``operators.cdc._guarded_batch``, whose docstring
holds the replay contract.
"""

from mapreducekmean_spark.streaming.jobs import (
    read_events_stream,
    read_points_stream,
    stream_assign,
    stream_hourly_counts,
    stream_sessionize,
)

__all__ = [
    "read_events_stream",
    "read_points_stream",
    "stream_assign",
    "stream_hourly_counts",
    "stream_sessionize",
]
