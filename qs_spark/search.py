"""Search operators: query normalization, postings, OR/AND/BM25L retrieval,
per-file dedup + rollup, scoring, top-k.

Spark re-expression of the reference query path
(quanta-search-api/core/file_searcher.py:195-373 and
core/inverted_index_retiver.py:29-265).  The reference's external
fast_inverted_index becomes a derived postings table / token-array scan; its
Mongo $group-$first becomes a window dedup; everything stays JVM-side column
expressions except nothing — previews live in previews.py (pandas kernel).

Scoring constants (quanta-search-api/utils/load_envs.py:33-40):
  BASE_SCORE=0.7  MAX_SCORE=0.99998  RETRIVER_CUT_OFF_THRESH=0.655
  BASE_PREVIEW_SCORE=0.9  PREVIEW_DIVISOR=10  PREVIEW_LENGTH=3
  MAX_PREVIEW_COUNT=3  MAX_DOC_LIMIT=200

Documented divergence: the reference's per-file match `count` is an artifact
of Mongo 5000-id batch chunking (a file counts once per chunk it appears in,
inverted_index_retiver.py:184-186).  Our count is the number of matching
store rows for the file — the intended dataflow (A1 dedup + A2 rollup).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window, functions as F

from qs_spark.cachereg import scoped_cache
from qs_spark.stopwords import STOPWORDS

BASE_SCORE = 0.7
MAX_SCORE = 0.99998
CUTOFF = 0.655
BASE_PREVIEW_SCORE = 0.9
PREVIEW_DIVISOR = 10
PREVIEW_LENGTH = 3
MAX_PREVIEW_COUNT = 3
MAX_DOC_LIMIT = 200

_NON_ALNUM = re.compile(r"[^A-Za-z0-9 ]+")


def normalize_query(query: str) -> tuple[str, str, list[str]]:
    """F3+F5 (file_searcher.py:199-231): returns
    (query__ raw-lowered, query_ punct-stripped, stopword-filtered terms)."""
    query__ = query.strip().lower()
    query_ = query__.replace('"', "").replace("'", "")
    query_ = _NON_ALNUM.sub(" ", query_)
    terms = [w for w in query_.split() if w not in STOPWORDS]
    return query__, query_, terms


def tokens_col(text_col="text"):
    """Store-text tokenizer: lowercase alnum runs (the store text is already
    lowercased by F2)."""
    return F.filter(
        F.split(F.regexp_replace(F.col(text_col), "[^a-z0-9]+", " "), " "),
        lambda x: x != "",
    )


def with_tokens(store: DataFrame) -> DataFrame:
    return store.withColumn("tokens", tokens_col())


def build_postings(store: DataFrame) -> DataFrame:
    """Derived inverted index: (term, position, row_id, document_name).
    The reference's index sink S12 (file_upload.py:362-476) with monotonic ids
    replaced by the natural (row_id, pos) key — Iceberg/parquet partitioning
    on bucket(term) makes term lookups partition-pruned at scale.

    version_id rides along when the store carries it, so a version-scoped
    delete cascade (registry.delete_versions, T4) can remove exactly that
    version's index entries — without it the cascade fell back to doc-level
    and deleting one version de-indexed every surviving version.
    """
    cols = ["row_id", "document_id", "document_name", "page_no"]
    if "version_id" in store.columns:
        cols.append("version_id")
    return with_tokens(store).select(
        *cols,
        F.posexplode("tokens").alias("pos", "term"),
    )


POSTINGS_BUCKETS = 64


def _write_postings_layout(postings: DataFrame, path: str, mode: str) -> None:
    """The one writer of the postings layout: every row goes to directory
    term_bucket = pmod(xxhash64(term), POSTINGS_BUCKETS) (term_bucket(),
    driver side), in postings-key order.  POSTINGS_BUCKETS is read here and
    in term_bucket() at call time, so a table's writer and reader agree."""
    n = POSTINGS_BUCKETS
    (
        postings.withColumn("term_bucket", F.expr(f"CAST(pmod(xxhash64(term), {n}) AS INT)"))
        # co-locate each bucket into one writer task BEFORE partitionBy:
        # otherwise every upstream task writes a sliver into every bucket dir
        # (measured: 25k files for a 461 MB index; a 3-bucket lookup then
        # opens ~1.2k tiny files and planning dominates the query)
        .repartition(n, F.col("term_bucket"))
        # postings-key order inside each bucket: the repartition keeps the
        # rows in the order the store's files fed them, so the same rows in
        # a different number of files gave different parquet bytes (the
        # bucket prefix also meets the partitioned writer's sort)
        .sortWithinPartitions("term_bucket", "term", "row_id", "pos")
        .write.mode(mode)
        .partitionBy("term_bucket")
        .parquet(path)
    )


def write_postings(store: DataFrame, path: str) -> None:
    """Materialize the postings table partitioned by term-hash bucket — the
    parquet stand-in for an Iceberg `bucket(term)` layout — replacing any
    table at `path`.  Term lookups then prune to the query terms' buckets:
    at 100 TB a 3-term query touches 3/POSTINGS_BUCKETS of the index instead
    of scanning it (the reference's fast_inverted_index lookup, as table
    layout).  streaming.stream_update_index appends to the same layout."""
    _write_postings_layout(build_postings(store), path, "overwrite")


def compact_postings(spark, path: str) -> None:
    """The reference's periodic index 'optimize'
    (quanta-search-consumer/core/file_upload.py:411-412,441-442: every 1000
    docs) as table maintenance — the Iceberg rewrite_data_files analog for
    the bucket-partitioned postings layout.  Streaming appends
    (streaming.stream_update_index) add one file per micro-batch per bucket;
    lookup planning cost grows with file count, so compaction rewrites each
    bucket back to a single file, one writer task per bucket.  Rows and
    their term_bucket directories are preserved verbatim (any batch_id
    column included — the dedup-on-read view stays correct); crash-safe via
    ParquetCatalog's staged two-rename swap + _recover."""
    import os

    from qs_spark.catalog import ParquetCatalog

    cat = ParquetCatalog(os.path.dirname(path.rstrip("/")))
    table = os.path.basename(path.rstrip("/"))
    df = cat.read(spark, table).repartition(POSTINGS_BUCKETS, F.col("term_bucket"))
    cat._rewrite(df, table, ["term_bucket"])


# XXH64 constants (public algorithm, Collet; Spark's xxhash64 expression is
# XXH64 with seed 42 over the string's UTF-8 bytes)
_XXP1 = 0x9E3779B185EBCA87
_XXP2 = 0xC2B2AE3D27D4EB4F
_XXP3 = 0x165667B19E3779F9
_XXP4 = 0x85EBCA77C2B2AE63
_XXP5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _xxh64(data: bytes, seed: int = 42) -> int:
    """Pure-Python XXH64, bit-identical to Spark's xxhash64 expression (seed
    42) — lets the driver compute a term's postings bucket WITHOUT a Spark
    job (r04 VERDICT #1: lookup_postings ran a createDataFrame+collect round
    trip per query just for this hash).  Returns the SIGNED 64-bit value
    Spark's expression yields; parity pinned by test vs the JVM expression.
    """
    import struct

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (64 - r))) & _M64

    n, i = len(data), 0
    if n >= 32:
        v1 = (seed + _XXP1 + _XXP2) & _M64
        v2 = (seed + _XXP2) & _M64
        v3 = seed & _M64
        v4 = (seed - _XXP1) & _M64
        while i + 32 <= n:
            k1, k2, k3, k4 = struct.unpack_from("<QQQQ", data, i)
            v1 = (rotl((v1 + k1 * _XXP2) & _M64, 31) * _XXP1) & _M64
            v2 = (rotl((v2 + k2 * _XXP2) & _M64, 31) * _XXP1) & _M64
            v3 = (rotl((v3 + k3 * _XXP2) & _M64, 31) * _XXP1) & _M64
            v4 = (rotl((v4 + k4 * _XXP2) & _M64, 31) * _XXP1) & _M64
            i += 32
        h = (rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = ((h ^ ((rotl((v * _XXP2) & _M64, 31) * _XXP1) & _M64)) * _XXP1 + _XXP4) & _M64
    else:
        h = (seed + _XXP5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        (k1,) = struct.unpack_from("<Q", data, i)
        k1 = (rotl((k1 * _XXP2) & _M64, 31) * _XXP1) & _M64
        h = ((rotl(h ^ k1, 27) * _XXP1) + _XXP4) & _M64
        i += 8
    if i + 4 <= n:
        (k1,) = struct.unpack_from("<I", data, i)
        h = ((rotl(h ^ ((k1 * _XXP1) & _M64), 23) * _XXP2) + _XXP3) & _M64
        i += 4
    while i < n:
        h = (rotl(h ^ ((data[i] * _XXP5) & _M64), 11) * _XXP1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _XXP2) & _M64
    h ^= h >> 29
    h = (h * _XXP3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def term_bucket(term: str) -> int:
    """Driver-side pmod(xxhash64(term), POSTINGS_BUCKETS) — the postings
    partition a term lives in (Python % on the signed hash == Spark's pmod)."""
    return _xxh64(term.encode("utf-8")) % POSTINGS_BUCKETS


def lookup_postings(spark, path: str, terms: list[str]) -> DataFrame:
    """Partition-pruned posting lookup for a term set over a table in the
    write_postings layout.  Bucket ids come from the driver-side hash with
    the same POSTINGS_BUCKETS the writer used (no Spark job — at 100 TB the
    lookup's cost should be the pruned scan, not a scheduling round trip per
    query)."""
    buckets = sorted({term_bucket(t) for t in terms})
    return (
        spark.read.parquet(path)
        .filter(F.col("term_bucket").isin(buckets) & F.col("term").isin(terms))
    )


def _word_hit(text_col, terms: list[str]):
    """Predicate: any of `terms` occurs in `text_col` as a WHOLE token, where
    tokens are maximal [a-z0-9] runs (exactly tokens_col's tokenization —
    term ∈ tokens ⟺ the term occurs with a non-alnum char or string boundary
    on both sides).  One regex find per row replaces the r05 shape
    (regexp_replace whole-text rewrite + split + array build + overlap),
    which allocated three intermediates per row just to answer a boolean;
    the find also early-exits on the first hit (guide §2.3: make the scan
    predicate cheap).  Terms come from normalize_query, so they are
    lowercase-alnum only — no regex metacharacters can reach the pattern."""
    assert all(t.isalnum() for t in terms), terms
    return F.col(text_col).rlike(
        "(^|[^a-z0-9])(" + "|".join(terms) + ")([^a-z0-9]|$)"
    )


def _match_rows_or(store: DataFrame, terms: list[str]) -> DataFrame:
    """OR retrieval (or_query, inverted_index_retiver.py:66-74): rows whose
    token set intersects the query terms.  Expressed as a single word-boundary
    regex find over the raw text (no shuffle; see _word_hit — result-identical
    to the former arrays_overlap-on-tokens form, plan-verified: the store scan
    now carries NO per-row tokenize).  tokens stays available to downstream
    consumers (previews) and is computed only for MATCHING rows."""
    return with_tokens(store.filter(_word_hit("text", terms)))


def _match_rows_and(store: DataFrame, terms: list[str]) -> DataFrame:
    """AND retrieval (and_query, inverted_index_retiver.py:56-64): one
    word-boundary regex find per term (see _word_hit) instead of per-term
    array_contains over a materialized token array."""
    for t in terms:
        store = store.filter(_word_hit("text", [t]))
    return with_tokens(store)


def and_search_postings(postings: DataFrame, terms: list[str]) -> DataFrame:
    """Postings-table AND retrieval (the reference's and_query on the
    inverted index): row ids containing EVERY query term = distinct
    (row_id, term) hits grouped by row_id, kept when the distinct-term count
    equals len(terms).  Bucket-pruned when fed lookup_postings' rows, as
    match_query_rows does; replaces a chained full-store array_contains scan
    for exact-match queries."""
    uniq = sorted(set(terms))
    hits = postings.filter(F.col("term").isin(uniq)).select("row_id", "term").distinct()
    return (
        hits.groupBy("row_id")
        .agg(F.count("*").alias("_nt"))
        .filter(F.col("_nt") == len(uniq))
        .select("row_id")
    )


def compute_score_col(count_col, n_files_col):
    """F10 (quanta-search-api/utils/util.py:165-192): log-scaled count score,
    rounded to 6 like the caller (file_searcher.py:325)."""
    scale = F.log(F.lit(1.0) + count_col) / F.log(F.lit(1.0) + n_files_col)
    return F.round(F.least(F.lit(BASE_SCORE) + (1 - BASE_SCORE) * scale, F.lit(0.9995)), 6)


def filter_tenant(
    store: DataFrame,
    state: str | None = None,
    uid: str | None = None,
    realm: dict[str, str] | None = None,
) -> DataFrame:
    """P4 multi-tenancy filter, mirroring the reference's retrieval-time
    predicate `metadata.state == ev.state AND uid AND realm equality`
    (quanta-search-api/core/file_searcher.py:236,258,265 and
    core/inverted_index_retiver.py:124,162; realm schema
    api/schemas/schema.py:33-41,137-147).  realm is a key->value map column;
    equality means every presented key matches the stored tag."""
    if state is not None:
        store = store.filter(F.col("state") == state)
    if uid is not None:
        store = store.filter(F.col("uid") == uid)
    if realm:
        for k, v in realm.items():
            store = store.filter(F.col("realm")[k] == v)
    return store


def search_rank(
    store: DataFrame,
    query: str,
    exact_match: bool = False,
    postings_path: str | None = None,
    state: str | None = None,
    uid: str | None = None,
    realm: dict[str, str] | None = None,
) -> DataFrame:
    """The search pipeline minus previews (those need the pandas kernel):
    retrieval -> P6 containment (exact mode) -> A2 rollup -> F10 score ->
    P7 threshold -> O1 top-200.

    When `postings_path` points at a write_postings table, OR retrieval uses
    the partition-pruned postings lookup + semi-join back to store rows (the
    scale default: a 3-term query scans 3/POSTINGS_BUCKETS of the index
    instead of the whole store).  Tenant filters (state/uid/realm, P4) apply
    to the store rows before scoring.

    Returns (document_name, match_count, relavence_score) — score scaled
    x100 round 3 like the response (file_searcher.py:341).
    """
    store = filter_tenant(store, state, uid, realm)
    tenant_filtered = state is not None or uid is not None or realm
    if postings_path is not None and not exact_match and not tenant_filtered:
        # pure-index plan: the postings table already carries
        # (row_id, document_name) — score WITHOUT touching the store at all
        # (the reference's inverted index answers search from the index
        # alone).  Measured 3x faster than lookup + store semi-join at sf0.1:
        # the semi-join dragged every store row through a shuffle.  The
        # per-file distinct-row count is ONE distinct-aggregate (map-side
        # partial agg, single exchange), not distinct-then-count (two
        # exchanges — r05, part of the search_idx regression fix).
        _, _, terms = normalize_query(query)
        if not terms:
            return store.sparkSession.createDataFrame(
                [], "document_name string, match_count long, relavence_score double"
            )
        hits = lookup_postings(store.sparkSession, postings_path, terms)
        per_file = score_per_file_from_counts(
            hits.groupBy("document_name").agg(
                F.countDistinct("row_id").alias("match_count")
            )
        )
    else:
        rows = match_query_rows(store, query, exact_match, postings_path)
        if rows is None:
            return store.sparkSession.createDataFrame(
                [], "document_name string, match_count long, relavence_score double"
            )
        per_file = score_per_file(rows)
    return (
        per_file.select(
            "document_name",
            "match_count",
            F.round(F.col("avg_score") * 100, 3).alias("relavence_score"),
        )
        .orderBy(F.desc("relavence_score"), "document_name")  # O1 (name tiebreak)
        .limit(MAX_DOC_LIMIT)
    )


def match_query_rows(
    store: DataFrame, query: str, exact_match: bool, postings_path: str | None = None
):
    """Retrieval-mode selection (file_searcher.py:289-295): partial match ORs
    the stopword-FILTERED terms; exact match ANDs ALL punct-stripped words —
    the reference passes `query_` (stopwords included) to and_query for
    search_type='search' — then applies P6 substring containment.  Returns
    None for the stopword-only-partial short circuit (file_searcher.py:233)
    and for a degenerate exact query with no words (the reference's
    and_query([]) returns nothing; scanning the whole store for P6 would
    both diverge and turn a punctuation-only query into a full-store scan)."""
    query__, query_, terms = normalize_query(query)
    if exact_match:
        words = query_.split()
        if not words:
            return None
        if postings_path is not None:
            # AND via the pruned index (reference and_query), then fetch only
            # the hit rows for the P6 containment check — the store is never
            # fully scanned for an exact query when an index exists
            hit_ids = and_search_postings(
                lookup_postings(store.sparkSession, postings_path, words), words
            )
            rows = store.join(hit_ids, "row_id", "left_semi")
        else:
            rows = _match_rows_and(store, words)
        return rows.filter(F.contains(F.col("text"), F.lit(query__)))  # P6
    if not terms:
        return None
    if postings_path is not None:
        # semi-join dedups by itself — no distinct on the hit ids needed
        hit_ids = lookup_postings(store.sparkSession, postings_path, terms).select("row_id")
        return store.join(hit_ids, "row_id", "left_semi")
    return _match_rows_or(store, terms)


def score_per_file(rows: DataFrame) -> DataFrame:
    """A2 rollup + F10 score + P7 threshold, shared by search_rank and
    search_with_previews."""
    return score_per_file_from_counts(
        rows.groupBy("document_name").agg(F.count("*").alias("match_count"))
    )


def score_per_file_from_counts(per_file: DataFrame) -> DataFrame:
    """Scoring tail over a (document_name, match_count) aggregate.
    fl_score_len = DISTINCT file count of the result set
    (file_searcher.py:322), attached as a broadcast scalar.

    Plan shape (audited): the per-file aggregate is CACHED before fan-out —
    without it, the scalar-count branch and the row branch prune different
    columns, the aggregate subplans stop being canonically equal, exchange
    reuse does NOT fire, and the store gets scanned twice (measured).  The
    cached set is one row per matching file (bounded, post-aggregation);
    Spark's LRU evicts it under pressure.  No single-partition window
    anywhere: at web scale "matching files" can be millions of rows, too
    many for one partition — which rules out the r01 global-window form."""
    per_file = scoped_cache(per_file)
    n_files = per_file.agg(F.count("*").alias("n_files"))
    return (
        per_file.crossJoin(F.broadcast(n_files))
        .withColumn("avg_score", compute_score_col(F.col("match_count"), F.col("n_files")))
        .filter(F.col("avg_score") > CUTOFF)  # P7
        .select("document_name", "match_count", "avg_score")
    )


def text_search_scored(store: DataFrame, terms: list[str]) -> DataFrame:
    """R4: the Mongo $text alternate retrieval path
    (inverted_index_retiver.py:117-155): textScore (modeled as the count of
    query-term occurrences in the row) x3 -> sort desc -> $group $first per
    file -> sigmoid -> threshold on the RAW score (the reference thresholds
    `score`, not the sigmoid) -> project relavence_score.
    """
    # cheap word-boundary prefilter first: score >= CUTOFF ⟺ tf >= 1 ⟺ some
    # term occurs as a whole token, so non-matching rows skip the tokenize
    # entirely (result-identical; the tf count below is unchanged)
    df = with_tokens(store.filter(_word_hit("text", terms)))
    term_arr = F.array(*[F.lit(t) for t in terms])
    tf = F.size(F.filter("tokens", lambda x: F.array_contains(term_arr, x)))
    scored = df.withColumn("score", 3.0 * tf).filter(F.col("score") >= CUTOFF)
    w = Window.partitionBy("document_name").orderBy(F.desc("score"), "document_id", "page_no")
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "document_name",
            # plain sigmoid here: the x3 already happened in `score`
            # (ref: $multiply [3, scoreint] then 1/(1+exp(-1*score)))
            F.round(1 / (1 + F.exp(-1.0 * F.col("score"))), 6).alias("relavence_score"),
        )
    )


def bm25l_phrase(store: DataFrame, terms: list[str], k1=1.2, b=0.75, delta=0.5) -> DataFrame:
    """R1: BM25L-scored phrase retrieval (PyQueryNode.phrase + 'bm25l',
    inverted_index_retiver.py:42-54).  The external index's scorer is
    reproduced from the published formula (Lv & Zhai, CIKM'11):

        c'     = tf / (1 - b + b * dl/avdl)
        score  = sum_t idf * (k1+1)(c'+delta) / (k1 + c'+delta)   [c'>0]
        idf    = ln((N+1)/(df+0.5))

    Phrase tf counts every positional-adjacency occurrence, INCLUDING
    immediately adjacent back-to-back repetitions (" data table data table "
    = tf 2 — the r02-documented undercount is gone).  Occurrences that SHARE
    tokens (a self-overlapping phrase: terms=['a','a'] against 'a a a')
    still count once — replace() consumes its match, identically in Spark
    and DuckDB, so parity holds.  Trick, oracle-compatible without
    regex lookahead: DOUBLE every token separator first.  In the doubled
    string each original boundary space becomes two, and a phrase written
    with doubled internal separators but single edge spaces
    (" data  table ") claims only ONE of each boundary pair — so
    back-to-back occurrences no longer share characters and plain
    non-overlapping replace() counts them all, identically in Spark and
    DuckDB.
    """
    phrase_dd = " " + "  ".join(terms) + " "
    toks_dd = F.replace(
        F.concat(F.lit(" "), F.array_join(tokens_col(), " "), F.lit(" ")),
        F.lit(" "),
        F.lit("  "),
    )
    df = with_tokens(store).withColumn("dl", F.size("tokens"))
    df = df.withColumn(
        "tf",
        ((F.length(toks_dd) - F.length(F.replace(toks_dd, F.lit(phrase_dd), F.lit("")))) /
         F.length(F.lit(phrase_dd))).cast("int"),
    )
    # cache the slim per-row stats projection before branching: the corpus
    # stats (N, avdl, df) and the hit rows both derive from it, and without a
    # materialization barrier each branch would re-scan AND re-tokenize the
    # whole store (same plan-audit finding as score_per_file)
    df = scoped_cache(df.select("row_id", "document_name", "page_no", "dl", "tf"))
    stats = df.agg(
        F.count("*").alias("n_rows"),
        F.avg("dl").alias("avdl"),
        F.sum((F.col("tf") > 0).cast("int")).alias("df_phrase"),
    )
    hits = df.filter(F.col("tf") > 0).crossJoin(F.broadcast(stats))
    cp = F.col("tf") / (1 - b + b * F.col("dl") / F.col("avdl")) + F.lit(delta)
    idf = F.log((F.col("n_rows") + 1) / (F.col("df_phrase") + 0.5))
    return hits.select(
        "row_id",
        "document_name",
        "page_no",
        F.round(idf * (k1 + 1) * cp / (k1 + cp), 6).alias("bm25l"),
    ).orderBy(F.desc("bm25l"), "row_id")
