"""Structured Streaming twins of the batch operators: the tier merge
(``incremental``), watermarked windows, sessions and M4 (``windowed``)
and the ``applyInPandasWithState`` twins (``stateful``). Every stream
starts through ``start_stream``."""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery


def start_stream(
    spark: SparkSession,
    input_path: str,
    schema: str,
    checkpoint_dir: str,
    transform: Callable[[DataFrame], DataFrame],
    sink: str | Callable[[DataFrame, int], None],
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """readStream(parquet directory ``input_path`` with ``schema``) ->
    ``transform(stream_df)`` -> ``sink``, checkpointed in
    ``checkpoint_dir``.

    ``sink`` is an output path or a function. A path gives the
    append-mode parquet file sink, which is exactly-once: its commit log
    lives next to the data. A function ``sink(batch_df, batch_id)``
    gives a ``foreachBatch`` sink in update mode (Spark treats update as
    append for a stateless query). foreachBatch is at-least-once: after
    a crash a batch can run again under the same ``batch_id``, so the
    function must make that replay harmless.

    ``max_files_per_trigger`` bounds a micro-batch; without it an
    ``available_now`` run drains every file present in one batch and
    stops. ``available_now=False`` keeps the query running on the
    default trigger."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    out = transform(reader.parquet(input_path))
    if callable(sink):
        writer = out.writeStream.outputMode("update").foreachBatch(sink)
    else:
        writer = (
            out.writeStream.outputMode("append").format("parquet").option("path", sink)
        )
    writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
