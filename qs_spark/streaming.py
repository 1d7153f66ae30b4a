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

For event-time analytics over the `events` table we expose a windowed
aggregation builder usable both in batch (tests/oracle) and with
withWatermark on a stream.
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


_FIRST_SEEN_OUT = "doc_id string, fingerprint bigint, bucket int"
_FIRST_SEEN_BUCKETS = 16
_FIRST_SEEN_STATE = "seen array<bigint>"


def stateful_first_seen(docs_stream, bloom_bits: int | None = None):
    """Custom stateful streaming operator (applyInPandasWithState): streaming
    exact dedup — emit a doc only the FIRST time its content fingerprint is
    seen, with the seen-set held in partitioned operator state that survives
    restarts via the streaming checkpoint.

    The reference's analog is the version-exists skip applied per upload
    event (file_upload.py:85-95) — here as a continuous operator.  Keying by
    fingerprint bucket (_FIRST_SEEN_BUCKETS of them) spreads state across
    partitions.

    bloom_bits: the 100 TB state shape — instead of the exact seen-set
    (state grows with distinct docs), hold a per-bucket bloom filter of
    `bloom_bits` bits packed into int64 words (STATE SIZE IS CONSTANT).
    Two index functions by double hashing the 64-bit fingerprint, k=4 probes.
    Guarantee flips from exact to one-sided: duplicates are ALWAYS
    suppressed; a new doc may be falsely suppressed with the standard bloom
    FP rate (size bloom_bits >= ~10 bits per expected distinct doc per
    bucket for <1% FP)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    keyed = docs_stream.select(
        "doc_id",
        F.xxhash64(F.concat_ws("\x1f", F.transform("spans", lambda s: s["text"]))).alias(
            "fingerprint"
        ),
    ).withColumn("bucket", F.pmod(F.col("fingerprint"), F.lit(_FIRST_SEEN_BUCKETS)).cast("int"))

    def dedup_exact_fn(key, pdf_iter, state):
        seen = set(state.get[0]) if state.exists else set()
        out = []
        for pdf in pdf_iter:
            for did, fp in zip(pdf["doc_id"], pdf["fingerprint"]):
                fp = int(fp)
                if fp not in seen:
                    seen.add(fp)
                    out.append((did, fp, key[0]))
        state.update((list(seen),))
        import pandas as pd

        yield pd.DataFrame(out, columns=["doc_id", "fingerprint", "bucket"])

    n_words = ((bloom_bits or 0) + 63) // 64

    def dedup_bloom_fn(key, pdf_iter, state):
        # state words are signed int64; hash/probe in unsigned space
        words = (
            [int(w) & 0xFFFFFFFFFFFFFFFF for w in state.get[0]]
            if state.exists
            else [0] * n_words
        )
        out = []
        for pdf in pdf_iter:
            for did, fp in zip(pdf["doc_id"], pdf["fingerprint"]):
                fp = int(fp)
                ufp = fp & 0xFFFFFFFFFFFFFFFF
                h1, h2 = ufp & 0xFFFFFFFF, (ufp >> 32) | 1  # odd second hash
                idxs = [((h1 + k * h2) % bloom_bits) for k in range(4)]
                if all((words[i >> 6] >> (i & 63)) & 1 for i in idxs):
                    continue  # (probably) seen
                for i in idxs:
                    words[i >> 6] |= 1 << (i & 63)
                out.append((did, fp, key[0]))
        state.update(
            ([w - (1 << 64) if w >= 1 << 63 else w for w in words],)
        )
        import pandas as pd

        yield pd.DataFrame(out, columns=["doc_id", "fingerprint", "bucket"])

    fn = dedup_bloom_fn if bloom_bits else dedup_exact_fn
    return keyed.groupBy("bucket").applyInPandasWithState(
        fn,
        outputStructType=_FIRST_SEEN_OUT,
        stateStructType=_FIRST_SEEN_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def sessionized_event_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str | None = None
) -> DataFrame:
    """Gap-based sessionization via the BUILT-IN session_window — dynamic
    per-key windows that merge while events arrive within `gap`.  Works in
    batch (tests cross-validate it against the lag+running-sum form, q54)
    and on a stream with withWatermark, where Spark bounds session state by
    the watermark — the Structured Streaming native form of the operator."""
    src = events.withWatermark("ts", watermark) if watermark else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def windowed_event_counts(
    events: DataFrame, window: str = "1 hour", watermark: str | None = None
) -> DataFrame:
    """Tumbling-window counts per event_type; pass watermark on a stream for
    bounded state + late-data handling."""
    src = events.withWatermark("ts", watermark) if watermark else events
    return (
        src.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value"
        )
    )
