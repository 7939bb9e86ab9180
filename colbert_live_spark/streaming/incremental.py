"""Structured-Streaming ingestion into the segmented index.

``readStream`` over a file source → ``foreachBatch(add_segment)`` with
``Trigger.AvailableNow`` — each micro-batch becomes one searchable segment,
the Spark-idiomatic form of the reference's insert-then-immediately-query
liveness (README.md:21-23). ``foreachBatch`` is at-least-once (a crash
between the sink commit and the stream-checkpoint commit replays the batch),
so end-to-end exactly-once comes from the idempotent-sink pattern: the
manifest records the last ingested ``batch_id`` and ``add_segment`` no-ops
on replays; segment registration is atomic via the manifest swap.

No watermarks/stateful ops are needed (SURVEY.md §2.11: the reference has no
stream-processing semantics — liveness is index maintenance, not windowing).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

from colbert_live_spark.index.segments import add_segment


def ingest_stream(
    spark: SparkSession,
    input_path: str,
    schema: StructType,
    root: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    preserve_ids: bool = False,
    key_col: str = "url",
):
    """Start (and by default drain) a file-source stream into segments.
    Returns the StreamingQuery (already awaited if available_now).

    The idempotence token is namespaced by the checkpoint location, so two
    streams with separate checkpoints writing one root don't swallow each
    other's batch 0/1/2… as replays; a restarted stream that *discards* its
    checkpoint must also use a new checkpoint path (same rule as any
    Structured Streaming sink).

    ``preserve_ids``: forward to :func:`add_segment` — for corpora with
    globally unique natural keys, results become independent of the order
    in which the file source lists its inputs."""
    reader = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", max_files_per_trigger or 1)
              .parquet(input_path))
    stream_id = checkpoint.rstrip("/")

    def handle(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if id_col not in batch_df.columns:
            # natural-key corpora (the input_hint shape: url PK, no dense
            # id): assign batch-local dense ids from the key; add_segment's
            # base offset makes them globally unique. preserve_ids would
            # need caller-provided globally-unique ids — refuse loudly.
            if preserve_ids:
                raise ValueError(
                    f"preserve_ids requires an existing '{id_col}' column "
                    "with globally unique values")
            from colbert_live_spark.index.ids import assign_dense_ids
            batch_df = assign_dense_ids(batch_df, key_col, id_col)
        # batch_id makes replayed micro-batches no-ops (idempotent sink)
        add_segment(spark, batch_df, root, id_col=id_col, text_col=text_col,
                    batch_id=batch_id, stream_id=stream_id,
                    preserve_ids=preserve_ids)

    writer = (reader.writeStream.foreachBatch(handle)
              .option("checkpointLocation", checkpoint))
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()
