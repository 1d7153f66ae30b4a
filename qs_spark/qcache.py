"""S14: the reference's Redis search-response cache, re-expressed as a
partitioned result-cache table (batch analog).

Reference semantics (quanta-search-api/core/file_searcher.py:215-230 read,
:364-373 write; db/redis.py RedisRepository; invalidation call sites
file_searcher.py:183, quanta-search-consumer/core/file_upload.py:348,642):

  - key: tenant uid.  Value: ONE dict holding the LATEST query's result list
    (``cache_data = {query__: final_docs, ...}`` is built fresh per search
    and ``insert_one`` replaces the whole uid blob) plus four guard fields —
    ``__td__`` (the tenant's total-doc count at cache time), ``__rlm__``
    (realm), ``__st__`` (state), ``__exm__`` (exact_match) — and a 3600 s TTL
    (``insert_one(ev.uid, cache_data, 3600)``).
  - a HIT requires: entry present, every guard equal to the incoming
    request's value, AND the query string present in the blob (equality here,
    since the blob holds exactly one query).
  - any index mutation for the uid DELETES the entry (upload, delete,
    metadata update) — correctness never depends on the TTL alone.

Batch analog: a parquet table identity-partitioned by ``__uid`` via
ParquetCatalog.  ``cache_store`` replaces the uid's partition with the new
query's result rows + a guard/marker row (dynamic partition overwrite — the
same replace-the-blob semantics as ``insert_one``); ``cache_lookup`` is a
partition-pruned read that validates the guards driver-side (one row) and
returns the cached result rows, or None on miss/stale; ``cache_invalidate``
deletes the uid's rows (Iceberg: a metadata-only ``DELETE FROM ... WHERE
__uid = ?``; the parquet fallback rewrites, fine for a table bounded at
MAX_DOC_LIMIT rows per tenant).  Timestamps are CALLER-supplied (no
wall-clock reads inside the engine — deterministic tests and resume), same
convention as checkpoint lineage.

The guard/marker row (result columns null, ``__marker`` true) exists so an
EMPTY result set still overwrites the partition — the reference caches empty
``final_docs`` too, and a dynamic partition overwrite with zero rows would
silently leave the previous entry live.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession, functions as F

from qs_spark.catalog import ParquetCatalog

CACHE_TABLE = "query_cache"
CACHE_TTL_SEC = 3600  # insert_one(ev.uid, cache_data, 3600)

_GUARDS = ["__uid", "__query", "__td", "__rlm", "__st", "__exm", "__ts", "__marker"]


def _realm_key(realm: dict | None) -> str | None:
    """Canonical realm encoding (the reference compares the dict by equality;
    sorted-key JSON is the column-friendly equivalent)."""
    return json.dumps(realm, sort_keys=True) if realm else None


def _with_guards(
    df: DataFrame,
    uid: str,
    query: str,
    total_docs: int,
    state: str | None,
    exact_match: bool,
    realm: dict | None,
    now_ts: float,
    marker: bool,
) -> DataFrame:
    return (
        df.withColumn("__uid", F.lit(uid))
        .withColumn("__query", F.lit(query))
        .withColumn("__td", F.lit(int(total_docs)))
        .withColumn("__rlm", F.lit(_realm_key(realm)).cast("string"))
        .withColumn("__st", F.lit(state).cast("string"))
        .withColumn("__exm", F.lit(bool(exact_match)))
        .withColumn("__ts", F.lit(float(now_ts)))
        .withColumn("__marker", F.lit(marker))
    )


def cache_store(
    cat: ParquetCatalog,
    results: DataFrame,
    *,
    uid: str,
    query: str,
    total_docs: int,
    state: str | None = None,
    exact_match: bool = False,
    realm: dict | None = None,
    now_ts: float = 0.0,
) -> None:
    """insert_one(uid, {query: results, guards...}) — replace the uid's
    cached entry with this query's result rows.  `results` is any slim result
    DataFrame (e.g. search_rank's (document_name, match_count,
    relavence_score)); its columns ride verbatim and come back verbatim."""
    spark = results.sparkSession
    # one all-null row in the results' shape (lit(None) casts sidestep any
    # non-nullable fields a result schema may carry, e.g. agg counts)
    marker = spark.range(1).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in results.schema.fields]
    )
    rows = _with_guards(
        results, uid, query, total_docs, state, exact_match, realm, now_ts, False
    ).unionByName(
        _with_guards(
            marker, uid, query, total_docs, state, exact_match, realm, now_ts, True
        )
    )
    cat.overwrite_partitions(rows, CACHE_TABLE, ["__uid"])


def cache_lookup(
    spark: SparkSession,
    cat: ParquetCatalog,
    *,
    uid: str,
    query: str,
    total_docs: int,
    state: str | None = None,
    exact_match: bool = False,
    realm: dict | None = None,
    now_ts: float = 0.0,
    ttl: float = CACHE_TTL_SEC,
) -> DataFrame | None:
    """The file_searcher.py:215-230 hit test: entry present AND every guard
    (total docs, realm, state, exact_match) equal AND the query matches AND
    the entry is younger than `ttl`.  Returns the cached result rows (guard
    columns stripped) or None.

    The guard check reads ONE driver row from the uid's partition-pruned
    marker (never result data); at 100 TB the scan touches one partition dir
    of a tenant-bounded table.
    """
    if not cat.exists(CACHE_TABLE):
        return None
    part = cat.read(spark, CACHE_TABLE).filter(F.col("__uid") == uid)
    g = part.filter(F.col("__marker")).select(*_GUARDS).first()
    if g is None:
        return None
    fresh = (
        g["__query"] == query
        and g["__td"] == int(total_docs)
        and g["__rlm"] == _realm_key(realm)
        and g["__st"] == state
        and bool(g["__exm"]) == bool(exact_match)
        and (float(now_ts) - float(g["__ts"])) <= float(ttl)
    )
    if not fresh:
        return None
    return part.filter(~F.col("__marker")).drop(*_GUARDS)


def cache_invalidate(spark: SparkSession, cat: ParquetCatalog, uid: str) -> None:
    """delete_one(uid) — every index mutation for the tenant calls this
    (upload file_upload.py:348, delete :642, metadata update
    file_searcher.py:183), so cached responses never outlive their index."""
    cat.delete_where(spark, CACHE_TABLE, F.col("__uid") == uid, ["__uid"])
