"""Checkpoint / lineage + idempotent resume for the extraction job.

Reference analogs: the index-meta checkpoint {backup_name, last_mongo_id,
last_index_id, modified_time} (quanta-search-consumer/core/file_upload.py:
447-463), Processing->Success/Failed status (T2), and at-least-once consumption
made idempotent by keyed writes (T5).

Design (north rule: "every partition writes lineage + extraction metrics to a
checkpoint table so runs resume idempotently mid-table"):
  - input docs are assigned a stable bucket = pmod(xxhash64(doc_id), n_buckets)
    — a pure function of doc_id, independent of partitioning/cluster size;
  - buckets are processed in waves; each wave's spans land via DYNAMIC
    PARTITION OVERWRITE on bucket=..., so re-running a bucket replaces its
    output instead of duplicating it (idempotence);
  - after a wave commits, one lineage row per bucket is MERGEd into the
    checkpoint table: (run_id, bucket, doc_count, span_count, text_bytes,
    t_start, t_end, status);
  - resume = anti-join input buckets against committed checkpoint rows: a
    killed run redoes only its in-flight wave.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from qs_spark.catalog import ParquetCatalog
from qs_spark.extract import SPAN_SCHEMA, extract_spans

CKPT_TABLE = "checkpoints"
SPANS_TABLE = "spans_extracted"


def bucket_col(n_buckets: int):
    return F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")


def folder_size_bytes(path: str) -> int:
    """A6 (quanta-search-consumer/utils/util.py:228-262): total bytes of a
    file or a directory tree — 0 when the path doesn't exist, unreadable
    files skipped, exactly the reference's semantics.  The reference sizes
    its index store with this before every index update to decide a backup
    (file_upload.py:375).  On a real catalog the same figure comes free from
    table metadata (Iceberg snapshot `total-files-size`); this is the
    filesystem form for local parquet-dir catalogs — one driver-side walk of
    table METADATA scale (file entries), never data."""
    if not os.path.exists(path):
        return 0
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, fn))
            except OSError:
                continue
    return total


def index_backup_decision(
    index_db_size: int, backup_max_size: int, backup_name: str
) -> tuple[bool, str]:
    """A6 consumer (file_upload.py:377-382): trigger an index backup whenever
    the store size is an exact MULTIPLE of INDEX_BACKUP_MAX_SIZE, versioning
    the backup name by the multiple.  Quirk-faithful: the reference tests
    ``size % max == 0`` (so size 0 also triggers, and a size that skips past
    a multiple between checks does not) — reproduced as-is, not 'fixed' to a
    >= threshold."""
    if backup_max_size and index_db_size % backup_max_size == 0:
        return True, f"{backup_name}_{int(index_db_size / backup_max_size)}"
    return False, backup_name


def committed_buckets(spark: SparkSession, cat: ParquetCatalog) -> set[int]:
    if not cat.exists(CKPT_TABLE):
        return set()
    rows = (
        cat.read(spark, CKPT_TABLE)
        .filter(F.col("status") == "committed")
        .select("bucket")
        .distinct()
        .collect()
    )
    return {r.bucket for r in rows}


def run_extract_checkpointed(
    spark: SparkSession,
    docs: DataFrame,
    cat: ParquetCatalog,
    run_id: str,
    n_buckets: int = 16,
    buckets_per_wave: int = 4,
    fail_after_waves: int | None = None,
) -> DataFrame:
    """Extract with per-bucket lineage; resumes past committed buckets.

    fail_after_waves: test hook — raise after N committed waves to simulate a
    mid-table crash (the resume test's kill switch).
    """
    docs = docs.withColumn("bucket", bucket_col(n_buckets))
    done = committed_buckets(spark, cat)
    todo = [b for b in range(n_buckets) if b not in done]
    waves = [todo[i : i + buckets_per_wave] for i in range(0, len(todo), buckets_per_wave)]

    for w_i, wave in enumerate(waves):
        if fail_after_waves is not None and w_i >= fail_after_waves:
            raise RuntimeError(f"injected failure before wave {w_i} (run {run_id})")
        t0 = time.time()
        part = docs.filter(F.col("bucket").isin(wave))
        spans = extract_spans(part.drop("bucket")).withColumn(
            "bucket", bucket_col(n_buckets)
        )
        # idempotent write: replaces exactly the wave's bucket partitions
        cat.overwrite_partitions(spans, SPANS_TABLE, ["bucket"])
        t1 = time.time()
        # one lineage row per bucket of the wave UNCONDITIONALLY — a bucket
        # whose docs all gate out produces zero spans but must still commit,
        # or every future resume re-processes it forever
        wave_df = spark.createDataFrame([(b,) for b in wave], "bucket int")
        # doc_count counts the wave's INPUT docs: a doc with null or empty
        # spans writes no span row, so counting doc ids over the written
        # spans would drop it from the lineage
        doc_stats = part.groupBy("bucket").agg(F.count("*").alias("doc_count"))
        wave_df = wave_df.join(doc_stats, "bucket", "left")
        if cat.exists(SPANS_TABLE):
            span_stats = (
                cat.read(spark, SPANS_TABLE)
                .filter(F.col("bucket").isin(wave))
                .groupBy("bucket")
                .agg(
                    F.count("*").alias("span_count"),
                    F.sum(F.length("text")).alias("text_bytes"),
                )
            )
            wave_df = wave_df.join(span_stats, "bucket", "left")
        else:  # an all-empty first wave never created the table
            wave_df = wave_df.withColumn(
                "span_count", F.lit(None).cast("long")
            ).withColumn("text_bytes", F.lit(None).cast("long"))
        metrics = (
            wave_df.fillna(0, ["doc_count", "span_count", "text_bytes"])
            .withColumn("run_id", F.lit(run_id))
            .withColumn("t_start", F.lit(t0))
            .withColumn("t_end", F.lit(t1))
            .withColumn("status", F.lit("committed"))
        )
        cat.merge_by_key(metrics, CKPT_TABLE, ["bucket"])

    if not cat.exists(SPANS_TABLE):
        schema = T.StructType([*SPAN_SCHEMA, T.StructField("bucket", T.IntegerType())])
        return spark.createDataFrame([], schema)
    return cat.read(spark, SPANS_TABLE)
