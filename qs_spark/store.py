"""Store builder: extracted spans -> the searchable row store.

Reproduces the reference's metadata-enrich + sink normalization chain:
  F1 filename prepend  "File Name : {file_name}\\n\\n\\n{text}"
      (quanta-search-consumer/utils/util.py:64-66) — applied to EVERY unit,
      including empty ones, which is why the sink's empty-text guard
      (core/file_upload.py:330) never fires post-F1.
  F2 store normalization  text.lower().replace("\\n", " ")
      (core/file_upload.py:336)
  page_no = order + 1 (add_metadata enumeration)
  row key: deterministic (doc_id, order) instead of the reference's uuid4 —
  idempotent re-runs produce identical stores (the resume contract, T5).

The store is the Spark analog of the Mongo vector_store collection; the
postings table built in search.py is the analog of the fast_inverted_index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from qs_spark.extract import sql_map
from qs_spark.kernels.dispatch import EXT_BY_FMT

# The projection is SQL text built once from EXT_BY_FMT (see extract.py:
# one expression string per column instead of one py4j call per Column op).
_EXT_MAP_SQL = sql_map(EXT_BY_FMT)
_FILE_NAME_SQL = f"concat(doc_id, {_EXT_MAP_SQL}[fmt])"
# F1 filename prepend, then F2 lower + newline flattening; the newlines
# are raw characters inside the SQL literals, so no escape parsing applies
_STORE_SQL = (
    "concat_ws('#', doc_id, `order`) AS row_id",
    "doc_id AS document_id",
    f"{_FILE_NAME_SQL} AS document_name",
    "`order` + 1 AS page_no",
    "replace(lower(concat('File Name : ', "
    f"{_FILE_NAME_SQL}, '\n\n\n', coalesce(text, ''))), '\n', ' ') AS text",
    "kind",
    "media_ref",
    "fmt",
)


def build_store(
    spans: DataFrame,
    state: str = "Publish",
    version_id: int = 1,
    uid: str = "u0",
    realm: dict[str, str] | None = None,
) -> DataFrame:
    """spans (doc_id, order, kind, text, media_ref, fmt) -> store rows.
    Error spans are excluded (the reference stores nothing for a Failed doc);
    null text coalesces to '' before F1, like the reference's
    `text if text else \"\"` (consumer utils/util.py:63-64).

    Multi-tenancy (P4): every row carries the owning `uid` and a `realm`
    key->value tag map, mirroring the reference's per-document metadata
    (quanta-search-api/schemas/schema.py:33-41,137-147); retrieval filters on
    them via search.filter_tenant (file_searcher.py:236,258,265).  These
    caller values are F.lit Columns, never SQL text."""
    tenant = [
        F.lit(state).alias("state"),
        F.lit(version_id).alias("version_id"),
        F.lit(uid).alias("uid"),
        (
            F.create_map(*[F.lit(x) for kv in realm.items() for x in kv])
            if realm
            else F.expr("CAST(map() AS map<string,string>)")
        ).alias("realm"),
    ]
    cols = [F.expr(c) for c in _STORE_SQL] + tenant
    return spans.filter("kind != 'error'").select(*cols)


# store file size write_store aims for when given the table's bytes
TARGET_FILE_BYTES = 128 * 1024 * 1024


def write_store(
    store: DataFrame,
    path: str,
    est_bytes: int | None = None,
) -> None:
    """Materialize the store with a REBALANCE exchange before the write —
    the Iceberg `write.distribution-mode` analog.

    Without it every upstream extraction task writes its own sliver file
    (measured: 399 x ~220 KB files for an 86 MB store at sf0.1; the write
    paid 399 parquet-writer setups and every later scan paid 399 file opens
    — write 21 s -> 12 s and scan-path search 5.6 s -> 1.8 s after the
    rebalance).  Extraction parallelism upstream is untouched; the exchange
    moves the finished rows once.  It sits above the whole extraction plan:
    when extract_spans_native splits a mega file, the kernel wave and the
    mega chain meet in one union, so the write's map stage also waits for
    the mega chain's stitch shuffle.

    File-count sizing: est_bytes/TARGET_FILE_BYTES (pass table-stats bytes
    at scale — at 100 TB that is ~800k x 128 MB files), floored at
    shuffle.partitions/4 so the writer stage keeps enough parallelism on
    small inputs.  AQE's REBALANCE hint was tried and
    rejected: it sizes by in-memory estimates and left 64 files where 16
    were right."""
    spark = store.sparkSession
    min_files = max(1, int(spark.conf.get("spark.sql.shuffle.partitions", "32")) // 4)
    n = int(max(min_files, (est_bytes or 0) // TARGET_FILE_BYTES))
    # Row-group sizing was A/B'd and rejected (r06): shrinking
    # parquet.block.size so each ~4 MB store file splits into several row
    # groups raised the scan's task count (16 -> 60+ splits) but search read
    # medians were FLAT-to-worse (2.22 base vs 2.27 s, 3 interleaved
    # extract+search pairs) — the scan is decode-bound, not
    # parallelism-bound, and small row groups add per-group overhead.  The
    # default (one ~row-group per small file) stands.
    store.repartition(n).write.mode("overwrite").parquet(path)
