"""Incremental extraction via Structured Streaming.

The reference's streaming-shaped features (SURVEY.md §2.10) are batch
resume + bounded fan-out; the natural Spark expression is a
``Trigger.AvailableNow`` stream over the documents source with
``foreachBatch`` running the same extraction plan per micro-batch:

- new files under the source path are discovered exactly once
  (checkpointLocation tracks consumed files — ingest-level resume),
- within each micro-batch the pipeline's checkpoint anti-join still applies
  (doc-level resume, retryable statuses),
- watermarks/session windows are deliberately absent: the reference has no
  event-time semantics (SURVEY.md §2.10 X3).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..plans.chunk_pipeline import run_chunk_indexing
from ..plans.pipeline import run_pipeline
from ..sources.synthetic import INPUT_SCHEMA
from ..sources.tables_io import Catalog


def run_incremental(
    spark: SparkSession,
    source_path: str,
    catalog: Catalog,
    stream_checkpoint: str,
    index_chunks: bool = False,
    chunk_max_size: int = 1000,
) -> None:
    """Process all currently-available new document files, then stop.

    Each micro-batch is one ``run_pipeline`` run with run id
    ``stream-{batch_id}``: checkpoint anti-join, S1 size gate, the
    ``extracted``/``lineage``/``checkpoints`` sinks and the circuit breaker
    all apply exactly as in batch. With ``index_chunks`` the micro-batch
    then chunk-indexes exactly the batch's documents through
    ``run_chunk_indexing`` (the chunks of untouched documents are never
    read or rewritten thanks to the bucketed catalog)."""
    stream = (
        spark.readStream.schema(INPUT_SCHEMA)
        .parquet(source_path)
    )

    def process_batch(batch_df, batch_id: int) -> None:
        run_pipeline(spark, batch_df, catalog, run_id=f"stream-{batch_id}")
        if index_chunks:
            doc_ids = [r["doc_id"] for r in
                       batch_df.select("doc_id").distinct().collect()]
            run_chunk_indexing(spark, catalog, doc_ids=doc_ids,
                               max_size=chunk_max_size)

    q = (
        stream.writeStream
        .foreachBatch(process_batch)
        .option("checkpointLocation", stream_checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
