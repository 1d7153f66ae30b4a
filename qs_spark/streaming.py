"""Structured Streaming ingestion: continuous extraction of arriving docs.

The reference is event-driven — RabbitMQ delivers upload events, a consumer
with prefetch=1 and a semaphore(2) processes them at-least-once
(quanta-search-consumer/event_driven/consumer.py:43-257).  There are no
stream windows or watermarks in the reference (SURVEY.md §2.10); what must
carry over is the delivery contract: at-least-once consumption made
exactly-once-effective by idempotent, keyed writes (T5).

Spark mapping: a file-source stream (arriving parquet batches of
(doc_id, spans[]) docs = the queue) -> foreachBatch running the SAME batch
extraction pipeline -> idempotent append keyed by (doc_id, order).
foreachBatch gives at-least-once per micro-batch; the dedup-on-read view
(latest batch_id wins per doc) makes replays harmless — the streaming analog
of the checkpoint module's bucket overwrite.  Both stream entry points run
on an availableNow trigger: a start processes the backlog that has arrived
and stops, and the caller's next start resumes from the checkpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from qs_spark.extract import DOC_SCHEMA, extract_spans


def _run_doc_stream(spark: SparkSession, input_dir: str, checkpoint_dir: str, body):
    """Stream the DOC_SCHEMA parquet files arriving in input_dir through
    body(batch_df, batch_id), skipping empty micro-batches, with progress in
    checkpoint_dir; an availableNow trigger.  Returns the StreamingQuery."""

    def process_batch(batch_df: DataFrame, batch_id: int):
        if not batch_df.isEmpty():
            body(batch_df, batch_id)

    return (
        spark.readStream.schema(DOC_SCHEMA)
        .parquet(input_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_extract(spark: SparkSession, input_dir: str, output_dir: str, checkpoint_dir: str):
    """Continuous extraction: extract each micro-batch of the doc-table
    parquet files arriving in input_dir, append its spans to output_dir
    tagged with the batch id (read them through dedup_on_read).

    Returns the StreamingQuery; availableNow: it processes the backlog and
    stops."""

    def body(batch_df: DataFrame, batch_id: int):
        spans = extract_spans(batch_df).withColumn("batch_id", F.lit(batch_id))
        spans.write.mode("append").parquet(output_dir)

    return _run_doc_stream(spark, input_dir, checkpoint_dir, body)


def stream_update_index(
    spark: SparkSession,
    input_dir: str,
    store_dir: str,
    postings_dir: str,
    checkpoint_dir: str,
):
    """Streaming index maintenance — the reference's IndexUpdateEvent
    (quanta-search-consumer/core/file_upload.py:362-476) as a continuous
    operator: each arriving micro-batch of docs is extracted, its store rows
    appended, and its postings appended by search's one postings writer, in
    the layout write_postings creates — so the partition-pruned lookup path
    (search.lookup_postings) immediately serves queries over freshly
    streamed documents.  At-least-once appends AND re-streamed updates are
    made harmless by postings_dedup_on_read (the document's latest batch
    wins whole — a changed doc's stale surplus rows drop out too) — the T5
    contract, same as the spans stream.

    Returns the StreamingQuery; availableNow: it processes the backlog and
    stops."""
    from qs_spark.search import _write_postings_layout, build_postings
    from qs_spark.store import build_store

    def body(batch_df: DataFrame, batch_id: int):
        store = build_store(extract_spans(batch_df))
        store.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
            store_dir
        )
        # postings derive from the just-written durable rows (filtered to
        # this batch): no second extraction pass and no cache to manage
        batch_rows = spark.read.parquet(store_dir).filter(F.col("batch_id") == batch_id)
        _write_postings_layout(
            build_postings(batch_rows).withColumn("batch_id", F.lit(batch_id)),
            postings_dir,
            "append",
        )

    return _run_doc_stream(spark, input_dir, checkpoint_dir, body)


def _latest_batch_per_doc(df: DataFrame, doc_col: str, natural_key: list[str]) -> DataFrame:
    """DOCUMENT-granularity exactly-once view over at-least-once appends:
    only rows from the document's LATEST batch survive, then physical
    duplicates within that batch (a foreachBatch retry re-appends the same
    batch_id) collapse on the natural key.

    Document granularity matters for real UPDATES, not just replays (r03
    ADVICE): if a doc is re-streamed with changed content that yields FEWER
    rows or shorter positions, a per-(row, pos) latest-wins dedup keeps the
    old version's surplus rows serving stale terms; keying the cutoff on the
    whole document drops them.  One hash-partitioned window on the doc id —
    same shuffle count as the old per-row form, coarser (fewer, larger)
    groups."""
    from pyspark.sql import Window

    w = Window.partitionBy(doc_col)
    return (
        df.withColumn("_mx", F.max("batch_id").over(w))
        .filter(F.col("batch_id") == F.col("_mx"))
        .drop("_mx", "batch_id")
        .dropDuplicates(natural_key)
    )


def postings_dedup_on_read(postings: DataFrame) -> DataFrame:
    """Exactly-once-effective view of streamed postings appends: the
    document's latest batch wins WHOLE (stale surplus row_ids/positions from
    superseded versions drop out), then (row_id, pos) collapses same-batch
    physical replays."""
    return _latest_batch_per_doc(postings, "document_id", ["row_id", "pos"])


def dedup_on_read(spans: DataFrame) -> DataFrame:
    """Exactly-once-effective view over at-least-once span appends: the
    doc's latest batch wins whole, then (doc_id, order) collapses same-batch
    physical replays."""
    return _latest_batch_per_doc(spans, "doc_id", ["doc_id", "order"])
