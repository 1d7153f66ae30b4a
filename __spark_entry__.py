"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)      — flagship: full multi-format extraction over the synthetic
                    interleaved corpus (sized from sf0.001 documents.parquet),
                    returning the ordered span table.
queries()         — one entry per implemented operator (SURVEY.md §2 + the
                    training-data ops); each callable: (spark, sf_dir) -> DF.
oracle_sql()      — DuckDB-equivalent SQL for every SQL-expressible entry.
                    Hash parity rules used throughout:
                      - every computed column aliased identically both sides
                      - floats rounded to 6 (the reference itself rounds 6)
                      - hashes via md5-hex-prefix -> bigint, reproducible in
                        both engines
                    Entries without oracle SQL (pandas-kernel ops, full-corpus
                    extraction) get the driver's rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from qs_spark import search as S
from qs_spark import textops as X
from qs_spark.corpus import corpus_parquet
from qs_spark.extract import extract_spans
from qs_spark.previews import search_with_previews
from qs_spark.registry import publish_transition, skip_existing_versions
from qs_spark.stopwords import STOPWORDS as _STOPWORDS
from qs_spark.store import build_store

# ---------------------------------------------------------------- helpers

TERMS = ["spark", "vector", "window"]
PHRASE = ["data", "table"]


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _docs_as_store(spark, sf_dir) -> DataFrame:
    """documents.parquet viewed as a search store: one row per doc, file =
    source (so per-file rollups aggregate docs per source)."""
    d = _docs(spark, sf_dir)
    return d.select(
        d.doc_id.cast("string").alias("row_id"),
        d.doc_id.cast("string").alias("document_id"),
        F.col("source").alias("document_name"),
        F.lit(1).alias("page_no"),
        F.lower("text").alias("text"),
    )


def _wrap_single_span(spark, sf_dir, kind: str, text_col) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select(
        F.concat(F.lit("doc"), d.doc_id.cast("string")).alias("doc_id"),
        F.array(
            F.struct(
                F.lit(kind).alias("kind"),
                text_col.alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )


def _registry_df(spark, sf_dir) -> DataFrame:
    """Deterministic synthetic registry derived from documents: versions
    0..(doc_id % 3 + 1); v0 Draft, others Publish."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), (d.doc_id % 3 + 1).cast("int"))
        ).alias("version_id"),
    ).withColumn(
        "state", F.when(F.col("version_id") == 0, "Draft").otherwise("Publish")
    )


_REGISTRY_SQL = (
    "SELECT doc_id, unnest(generate_series(0, cast(doc_id % 3 AS int) + 1)) AS version_id,"
    " CASE WHEN unnest(generate_series(0, cast(doc_id % 3 AS int) + 1)) = 0"
    " THEN 'Draft' ELSE 'Publish' END AS state FROM documents"
)

# DuckDB needs the unnest once; restructure via a subquery instead:
_REGISTRY_SQL = (
    "SELECT doc_id, version_id,"
    " CASE WHEN version_id = 0 THEN 'Draft' ELSE 'Publish' END AS state FROM ("
    " SELECT doc_id, unnest(generate_series(0, cast(doc_id % 3 AS int) + 1)) AS version_id"
    " FROM documents)"
)

_TOKS_SQL = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"
_SHINGLES_SQL = (
    "CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')] "
    "ELSE list_transform(range(len(t) - 2), i -> array_to_string(t[i+1:i+3], ' ')) END"
)


def _h60_sql(expr: str) -> str:
    return f"cast(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def _golden_sql(name: str) -> str | None:
    """Golden VALUES oracle for entries over the generated corpus (x33/x34/
    x41/x47): DuckDB cannot re-derive the synthetic corpus from the
    registered tables, so the oracle is the frozen output of the
    SINGLE-THREADED NON-SPARK pandas reference implementation — produced by
    tools/gen_golden_oracles.py (see its module docstring), pinned to the
    driver's 500-doc scale (sf0.001/sf0.01).  The driver's rows+schema+hash
    gate then verifies distributed == serial-reference byte-for-byte.
    Returns None (rows-only fallback) if the golden file is absent."""
    import os

    p = os.path.join(os.path.dirname(os.path.abspath(__file__)), "qs_spark", "golden", name)
    try:
        with open(p) as f:
            return f.read()
    except OSError:
        return None


# ---------------------------------------------------------------- entry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: extraction of the interleaved corpus at sf0.001 scale."""
    sf_dir = "/root/testdata/sf0.001"
    n_docs = _docs(spark, sf_dir).count()
    spans = extract_spans(corpus_parquet(spark, n_docs))
    return spans.select("doc_id", F.col("order").alias("span_order"), "kind", "text", "media_ref", "fmt")


# ---------------------------------------------------------------- queries


def _with_cache_release(fn: Callable) -> Callable:
    """Release the PREVIOUS query's registered caches before running the next
    one: the driver executes dozens of entries in one session, and the
    operators' deliberate materialization barriers (score_per_file, LSH
    bucket tables, ...) would otherwise accumulate until LRU pressure
    (r02 ADVICE).  Residency is bounded to one query's working set."""
    from qs_spark.cachereg import release_caches

    def wrapped(spark, sf):
        release_caches()
        return fn(spark, sf)

    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable] = {}

    # --- normalization chain (F1/F2) ---
    def q01(spark, sf):
        d = _docs(spark, sf)
        f1 = F.concat(
            F.lit("File Name : doc"), d.doc_id.cast("string"), F.lit(".txt\n\n\n"), d.text
        )
        return d.select(
            "doc_id", F.replace(F.lower(f1), F.lit("\n"), F.lit(" ")).alias("text_store")
        )

    q["q01_store_normalize"] = q01

    # --- tokenization / postings (S12/U3 substrate) ---
    def q02(spark, sf):
        return X.token_counts(_docs(spark, sf))

    q["q02_token_counts"] = q02

    # (q03 postings-tf / q04 doc-freq retired: the driver records at most 50
    # rows — S12 postings evidence now comes from q58_postings_search, the
    # distinct-agg shape from q53.)

    # --- retrieval + ranking (R2/R3/P6/A1/A2/F10/O1) ---
    def q05(spark, sf):
        return S.search_rank(_docs_as_store(spark, sf), " ".join(TERMS))

    q["q05_or_search_rank"] = q05

    def q06(spark, sf):
        st = _docs_as_store(spark, sf)
        return S._match_rows_and(st, TERMS[:2]).select(
            F.col("row_id").alias("doc_id"), "document_name"
        )

    q["q06_and_retrieval"] = q06

    def q07(spark, sf):
        st = _docs_as_store(spark, sf)
        return st.filter(F.contains("text", F.lit("spark join"))).select(
            F.col("row_id").alias("doc_id")
        )

    q["q07_exact_contains"] = q07

    def q08(spark, sf):
        d = _docs(spark, sf).select(
            "source", "doc_id", "n_chars"
        )
        from pyspark.sql import Window

        w = Window.partitionBy("source").orderBy("doc_id")
        return (
            d.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("source", "doc_id", "n_chars")
        )

    q["q08_first_per_group"] = q08

    # (q09 per-source rollup retired r04 for the 50-entry budget: the A2
    # per-file rollup shape is evidenced by q05_or_search_rank's
    # match_count-per-file agg, which stays green; the grouped-avg
    # quantization trick lives on in q54.  q10 sigmoid / q11 top-k retired
    # earlier: F9 via q42, O1 rank+limit via q05.)

    def q12(spark, sf):
        return S.bm25l_phrase(_docs_as_store(spark, sf), PHRASE).select(
            F.col("row_id").alias("doc_id"), "bm25l"
        )

    q["q12_bm25l_phrase"] = q12

    # --- join shapes (J1/J2/J5, TPC-H-ish) ---
    def q13(spark, sf):
        li = spark.read.parquet(f"{sf}/lineitem.parquet")
        o = spark.read.parquet(f"{sf}/orders.parquet").filter(F.col("o_totalprice") > 100000)
        # price summed in exact integer cents (2-decimal inputs), then one
        # deterministic /100.0 — order-independent, hash-stable across engines
        cents = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
        return (
            li.join(F.broadcast(o.select("o_orderkey")), li.l_orderkey == o.o_orderkey, "left_semi")
            .groupBy("l_orderkey")
            .agg(F.count("*").alias("n_lines"), (F.sum(cents) / 100.0).alias("sum_price"))
        )

    q["q13_semi_join"] = q13

    # (q14 anti-join retired: J2 is evidenced by q29_version_skip_anti.)

    def q15(spark, sf):
        # timestamp formatting is session-TZ-sensitive; pin UTC so the
        # driver's session (whatever its default) matches DuckDB's naive read
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        o = spark.read.parquet(f"{sf}/orders.parquet")
        first = o.groupBy("o_custkey").agg(F.min("o_orderdate").alias("first_order"))
        return (
            o.join(F.broadcast(first), "o_custkey")
            .filter(F.col("o_orderdate") == F.col("first_order"))
            .groupBy("o_custkey")
            .agg(
                F.min("o_orderkey").alias("first_orderkey"),
                F.date_format(F.min("first_order"), "yyyy-MM-dd HH:mm:ss").alias("first_order_ts"),
            )
        )

    q["q15_min_backfill"] = q15

    def q16(spark, sf):
        c = spark.read.parquet(f"{sf}/customer.parquet")
        n = spark.read.parquet(f"{sf}/nation.parquet")
        r = spark.read.parquet(f"{sf}/region.parquet")
        o = spark.read.parquet(f"{sf}/orders.parquet")
        return (
            o.join(c, o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy("r_name")
            .agg(
                F.count("*").alias("n_orders"),
                (F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")) / 100.0).alias("revenue"),
            )
        )

    q["q16_region_revenue"] = q16

    # (q17 pricing-summary retired: its filter+multi-agg shape is covered by
    # q13/q16/q52; driver-row budget.)

    def q18(spark, sf):
        spark.conf.set("spark.sql.session.timeZone", "UTC")  # see q15
        ev = spark.read.parquet(f"{sf}/events.parquet")
        return (
            ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.floor(F.col("value") * 1e6 + 0.5).cast("long")).alias("sum_value_e6"),
            )
            .select(
                F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
                "event_type",
                "n_events",
                "sum_value_e6",
            )
        )

    q["q18_events_hourly"] = q18

    # --- training-data ops ---
    def q19(spark, sf):
        return X.dedup_exact(_docs(spark, sf))

    q["q19_dedup_exact"] = q19

    def q20(spark, sf):
        return X.minhash_signatures(_docs(spark, sf))

    q["q20_minhash_signatures"] = q20

    def q21(spark, sf):
        return X.lsh_candidate_pairs(_docs(spark, sf))

    q["q21_lsh_candidate_pairs"] = q21

    # (q22 simhash retired for the driver's 50-row budget: q50's near-dup
    # oracle recomputes the identical simhash in SQL, so the fingerprint
    # stays value-checked; the standalone op keeps its pytest coverage.)

    def q23(spark, sf):
        # GLOBAL (the r01 src0 filter only bounded the old all-pairs cost;
        # LSH-prefiltered candidates are bucket-local and scale-safe)
        return X.ngram_jaccard_pairs(_docs(spark, sf))

    q["q23_ngram_jaccard"] = q23

    def q24(spark, sf):
        e = _emb(spark, sf)
        qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first().embedding]
        ed = e.withColumn("embedding", F.transform("embedding", lambda x: x.cast("double")))
        return X.ann_bruteforce(ed, qvec, k=10)

    q["q24_ann_cosine_topk"] = q24

    def q25(spark, sf):
        return X.text_quality(_docs(spark, sf))

    q["q25_text_quality"] = q25

    def q26(spark, sf):
        return X.lang_id(_docs(spark, sf))

    q["q26_lang_id"] = q26

    # (q27 fingerprint retired for the 50-row budget: the identical
    # md5-of-normalized-text expression is q19's oracle group key, so it
    # remains value-checked there; winnowing keeps its pytest coverage.)

    # --- registry state machine (T1 both directions /P3) ---
    def q28(spark, sf):
        from qs_spark.registry import with_current_version

        reg = _registry_df(spark, sf)
        reg = publish_transition(reg, doc_id=42, version_id=1)  # publish
        reg = publish_transition(reg, doc_id=43, version_id=None)  # revert
        return with_current_version(reg).select(
            "doc_id",
            "version_id",
            "state",
            F.col("current_version").cast("double").alias("current_version"),
        )

    q["q28_publish_transition"] = q28

    def q29(spark, sf):
        reg = _registry_df(spark, sf)
        d = _docs(spark, sf)
        incoming = d.select("doc_id", (d.doc_id % 7).cast("int").alias("version_id"))
        return skip_existing_versions(incoming, reg)

    q["q29_version_skip_anti"] = q29

    # --- extraction end-to-end with independent SQL oracles ---
    def x30(spark, sf):
        wrapped = _wrap_single_span(spark, sf, "md", F.col("text"))
        return extract_spans(wrapped).select(
            "doc_id", F.col("order").alias("span_order"), "kind", "text", "media_ref"
        )

    q["x30_extract_md_passthrough"] = x30

    def x31(spark, sf):
        wrapped = _wrap_single_span(spark, sf, "txt", F.col("text"))
        return extract_spans(wrapped).select(
            "doc_id", F.col("order").alias("span_order"), "kind", "text", "media_ref"
        )

    q["x31_extract_txt_chunk"] = x31

    def x32(spark, sf):
        html = F.concat(
            F.lit(
                "<html><head><script>x()</script></head><body>"
                "<nav><a href='/'>home</a></nav><main><p>"
            ),
            F.col("text"),
            F.lit("</p></main><aside>ads</aside><footer>f</footer></body></html>"),
        )
        wrapped = _wrap_single_span(spark, sf, "html", html)
        return extract_spans(wrapped).select(
            "doc_id", F.col("order").alias("span_order"), "kind", "text", "media_ref"
        )

    q["x32_extract_html_strip"] = x32

    # --- full-corpus entries, golden-oracled (see oracle_sql's golden note) ---
    def x33(spark, sf):
        # Flagship extraction over the full mixed corpus, projected to a
        # per-doc digest (order#kind#md5(text)#media_ref joined in span
        # order, md5'd): covers every span field of every doc in 500 rows,
        # compared against the serial pandas reference via the golden oracle.
        # entry() still returns the raw span table for the smoke check.
        # Runs the NATIVE-scan path (the one bench measures) so the golden
        # oracles it at the driver level; row-identity with the JVM path is
        # separately pinned by test_extract_native.
        from qs_spark.extract import extract_spans_native

        n = _docs(spark, sf).count()
        table = corpus_parquet(spark, n).inputFiles()[0].split("/size_class=")[0]
        spans = extract_spans_native(
            spark, table[7:] if table.startswith("file://") else table
        )
        item = F.struct(
            F.col("order"),
            F.col("kind"),
            F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("th"),
            F.col("media_ref"),
        )
        agg = spans.groupBy("doc_id").agg(
            F.max("fmt").alias("fmt"),
            F.count("*").alias("n_spans"),
            F.sort_array(F.collect_list(item)).alias("_items"),
        )
        part = lambda s: F.concat_ws(  # noqa: E731
            "#", s["order"].cast("string"), s["kind"], s["th"], s["media_ref"]
        )
        return agg.select(
            "doc_id",
            "fmt",
            "n_spans",
            F.md5(F.array_join(F.transform("_items", part), "|")).alias("span_digest"),
        )

    q["x33_extract_full_corpus"] = x33

    def x34(spark, sf):
        # both preview search modes in one entry (driver-row budget): OR
        # retrieval + exact-match (P6 + the exact-needs-preview gate), tagged
        # by mode.  preview is array<string>; the driver harness sorts/hashes
        # pandas frames, so serialize it to JSON here (the library keeps
        # returning real arrays).
        from qs_spark.cachereg import scoped_cache

        n = min(_docs(spark, sf).count(), 1500)
        # cache: two search modes x two branches each would otherwise re-run
        # the whole extraction lineage four times; registered so the next
        # entry's wrapper releases it
        store = scoped_cache(build_store(extract_spans(corpus_parquet(spark, n))))
        a = search_with_previews(store, "spark join").withColumn("mode", F.lit("or"))
        b = search_with_previews(store, "data table", exact_match=True).withColumn(
            "mode", F.lit("exact")
        )
        return a.unionByName(b).withColumn("preview", F.to_json("preview"))

    q["x34_search_with_previews"] = x34

    def q59(spark, sf):
        # ANN scale path: signature-partitioned index built once
        # (write_ann_index), query = partition-pruned multiprobe lookup.
        # Result must equal the scan-form ann_lsh (tests assert it) and is
        # DuckDB-oracled via the same closed-form hyperplanes.
        import tempfile

        e = _emb(spark, sf)
        qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first().embedding]
        ed = e.withColumn("embedding", F.transform("embedding", lambda x: x.cast("double")))
        path = tempfile.mkdtemp(prefix="qs_ann_q_") + "/ann"
        X.write_ann_index(ed, path)
        res = X.ann_lsh_indexed(spark, path, qvec, k=10, n_probes=12)
        # recall gate vs the exact baseline (q24's brute force): multiprobe
        # at 12 of 64 buckets (~25% of vectors scanned) must retain most of
        # the true top-10 — measured 6/10 at sf0.001 and 7/10 at sf0.01;
        # gate at 5 for margin
        brute = {r.vec_id for r in X.ann_bruteforce(ed, qvec, k=10).collect()}
        got = {r.vec_id for r in res.collect()}
        assert len(got & brute) >= 5, f"ann_lsh recall collapsed: {sorted(got & brute)}"
        return res

    q["q59_ann_lsh_indexed"] = q59

    # --- scalar/util operators (F6/F7/P8/U2/S12/A3/A4) ---
    def q36(spark, sf):
        from qs_spark.scalars import file_extension, url_to_filename

        d = _docs(spark, sf)
        url = F.concat(
            F.lit("https://bucket.s3.amazonaws.com/files/doc%20"),
            d.doc_id.cast("string"),
            F.lit(".pdf?X-Amz-Signature=abc&X-Amz-Expires=3600"),
        )
        fn = url_to_filename(url)
        # F6 + F7 in one entry (merged r04 to free a slot in the 50-entry
        # driver budget — both scalar maps over the same table)
        from qs_spark.scalars import sha256_checksum

        return d.select(
            "doc_id",
            fn.alias("file_name"),
            file_extension(fn).alias("ext"),
            sha256_checksum(F.col("text")).alias("checksum"),
        )

    q["q36_url_sha_scalars"] = q36

    def q38(spark, sf):
        from qs_spark.scalars import realm_key_diff

        d = _docs(spark, sf)
        presented = F.when(d.doc_id % 2 == 0, F.array(F.lit("lang"), F.lit("tier"))).otherwise(
            F.array(F.lit("lang"), F.lit("region"))
        )
        missing, extra = realm_key_diff(presented, ["lang", "region"])
        # arrays serialized for the driver harness (unhashable in pandas sort)
        return d.select(
            "doc_id",
            F.concat_ws(",", missing).alias("missing_keys"),
            F.concat_ws(",", extra).alias("extra_keys"),
        )

    q["q38_realm_key_diff"] = q38

    def q39(spark, sf):
        from qs_spark.scalars import assign_index_ids

        return assign_index_ids(
            _docs(spark, sf).select("doc_id"), last_index_id=1000
        )

    q["q39_assign_index_ids"] = q39

    def q40(spark, sf):
        from qs_spark.scalars import assign_index_ids

        ids = assign_index_ids(_docs(spark, sf).select("doc_id", "source"), 0)
        return ids.groupBy("source").agg(
            F.count("*").alias("total_vdocs"),  # A3
            F.max("index_id").alias("max_index_id"),  # A4
        )

    q["q40_registry_stats"] = q40

    def q42(spark, sf):
        return S.text_search_scored(_docs_as_store(spark, sf), TERMS)

    q["q42_text_search_sigmoid"] = q42

    def x41(spark, sf):
        from qs_spark.previews import preview_count, preview_docs

        n = min(_docs(spark, sf).count(), 1500)
        store = build_store(extract_spans(corpus_parquet(spark, n)))
        ids = [f"doc{i:08d}" for i in range(60)]
        pv = preview_docs(store, "table", ids)
        # A5 preview_count (API/router/api.py:977) rides along as a broadcast
        # 1-row scalar on every row — same n_files pattern as search scoring
        return pv.withColumn(
            "previews", F.to_json("previews")  # driver-harness serialization
        ).crossJoin(F.broadcast(preview_count(pv)))

    q["x41_preview_docs_pages"] = x41

    # (q43 path-dedup retired for the 50-row budget: its groupBy-min shape is
    # exactly q19_dedup_exact's, which stays green; P2's evidence moves there.)

    def q62(spark, sf):
        # Connected components over the LSH candidate-pair graph — the dedup
        # pipeline's clustering stage, oracled via DuckDB's recursive CTE
        # min-label closure.
        return X.connected_components(X.lsh_candidate_pairs(_docs(spark, sf)))

    q["q62_dedup_components"] = q62

    def q44(spark, sf):
        # P4 multi-tenancy: state + uid + realm-tag filters applied in the
        # retrieval path (reference file_searcher.py:236,258,265).  Tenancy
        # columns synthesized deterministically: uid = 'u' || doc_id%3,
        # realm = {lang: <lang col>}.
        d = _docs(spark, sf)
        st = d.select(
            d.doc_id.cast("string").alias("row_id"),
            d.doc_id.cast("string").alias("document_id"),
            F.col("source").alias("document_name"),
            F.lit(1).alias("page_no"),
            F.lower("text").alias("text"),
            F.lit("Publish").alias("state"),
            F.concat(F.lit("u"), (d.doc_id % 3).cast("string")).alias("uid"),
            F.create_map(F.lit("lang"), F.col("lang")).alias("realm"),
        )
        res = S.search_rank(
            st, " ".join(TERMS), state="Publish", uid="u1", realm={"lang": "en"}
        )
        # S14 (Redis response cache -> qcache result-cache table): the entry
        # returns the rows READ BACK through a store->lookup round trip, so
        # the SQL oracle hash-validates the cached bytes, not just the
        # computation (file_searcher.py:215-230/:364-373 semantics; guards =
        # uid + query + total-docs + realm/state/exact_match, TTL untouched)
        import tempfile

        from qs_spark import qcache as QC
        from qs_spark.catalog import ParquetCatalog

        guards = dict(
            uid="u1",
            query=" ".join(TERMS),
            total_docs=d.count(),
            state="Publish",
            exact_match=False,
            realm={"lang": "en"},
            now_ts=0.0,
        )
        cat = ParquetCatalog(tempfile.mkdtemp(prefix="qs_qcache_q_"))
        QC.cache_store(cat, res, **guards)
        hit = QC.cache_lookup(spark, cat, **guards)
        assert hit is not None, "qcache round trip must hit under equal guards"
        return hit

    q["q44_realm_search"] = q44

    def q45(spark, sf):
        # U1: union of retrieval modes (sp_index + text_search), deduped
        st = _docs_as_store(spark, sf)
        sp = (
            S._match_rows_or(st, TERMS)
            .select("document_name")
            .distinct()
            .withColumn("mode", F.lit("sp_index"))
        )
        ts = S.text_search_scored(st, TERMS).select("document_name").withColumn(
            "mode", F.lit("text_search")
        )
        return sp.unionByName(ts)

    q["q45_union_modes"] = q45

    def q46(spark, sf):
        # embedding-cosine near-dup pairs, blocked by label (the ANN family's
        # pairwise variant)
        e = _emb(spark, sf).withColumn(
            "ev", F.transform("embedding", lambda x: x.cast("double"))
        )
        dot = F.aggregate(
            F.zip_with(F.col("a.ev"), F.col("b.ev"), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        n1 = F.sqrt(F.aggregate(F.col("a.ev"), F.lit(0.0), lambda a, x: a + x * x))
        n2 = F.sqrt(F.aggregate(F.col("b.ev"), F.lit(0.0), lambda a, x: a + x * x))
        pairs = (
            e.alias("a")
            .join(e.alias("b"), "label")
            .filter(F.col("a.vec_id") < F.col("b.vec_id"))
            .select(
                F.col("a.vec_id").alias("vec_a"),
                F.col("b.vec_id").alias("vec_b"),
                F.round(dot / (n1 * n2), 6).alias("cosine"),
            )
            .filter(F.col("cosine") >= 0.35)
        )
        return pairs

    q["q46_embedding_near_dup"] = q46

    def q50(spark, sf):
        return X.simhash_near_dup_pairs(_docs(spark, sf))

    q["q50_simhash_near_dup"] = q50

    # (x51 exact-match previews folded into x34's mode union; q52 rollup
    # aggregate retired in r05 for q66_pack_sequences — grouping-sets are
    # vanilla Catalyst with no engine code of ours, while pack_sequences was
    # the one operator without a driver oracle row.  Both per the 50-row
    # driver budget.)

    def q66(spark, sf):
        # sequence packing for training batches: greedy per-shard fill with
        # oversize isolation; deterministic doc_id-mod shard so the DuckDB
        # oracle can re-derive the identical packing (see oracle_sql q66)
        toks = X.token_counts(_docs(spark, sf)).select(
            "doc_id",
            F.col("ws_tokens").cast("long").alias("n_tokens"),
            F.pmod(F.col("doc_id"), F.lit(8)).cast("int").alias("_s"),
        )
        # pack_id is cast to double to land in pandas exactly as the oracle's
        # does: DuckDB's windowed sum(BIGINT) yields HUGEINT, which fetchdf
        # materializes as float64 (the r05 driver red row — rows/schema
        # matched, the value hash saw 237.0 vs 237).  The oracle SQL text is
        # frozen, so the engine aligns its dtype; the packing VALUES are
        # unchanged and integer-exact in float64.
        return X.pack_sequences(toks, budget=64, shard_col="_s").select(
            "doc_id",
            "n_tokens",
            F.col("pack_id").cast("double").alias("pack_id"),
            "oversize",
        )

    q["q66_pack_sequences"] = q66

    def q53(spark, sf):
        # distinct-aggregate: vocabulary size per source
        d = _docs(spark, sf)
        # vocab + exact percentiles per source in one entry (q53+q55 merged
        # r04 for the 50-entry budget): two independent aggs joined on the
        # 20-row source dim — vocab needs the exploded token stream,
        # percentiles the raw per-doc n_chars
        vocab = (
            d.select("source", F.explode(F.split(F.lower("text"), " ")).alias("term"))
            .groupBy("source")
            .agg(F.countDistinct("term").alias("vocab_size"))
        )
        pct = d.groupBy("source").agg(
            F.round(F.expr("percentile(n_chars, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(n_chars, 0.95)"), 6).alias("p95"),
        )
        return vocab.join(pct, "source")

    q["q53_corpus_stats"] = q53

    def q54(spark, sf):
        # sessionization: per-user sessions split on >30 min gaps (lag +
        # running sum of boundaries)
        from pyspark.sql import Window

        spark.conf.set("spark.sql.session.timeZone", "UTC")
        ev = spark.read.parquet(f"{sf}/events.parquet")
        w = Window.partitionBy("user_id").orderBy("ts")
        # ts is TIMESTAMP_NTZ (parquet naive); NTZ can't cast to long directly
        # — route via timestamp with the UTC-pinned session so epoch matches
        # DuckDB's epoch(naive)
        ep = F.col("ts").cast("timestamp").cast("long")
        gap = ep - F.lag(ep).over(w)
        marked = ev.withColumn(
            "new_session", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
        )
        sess = marked.withColumn(
            "session_id", F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
        # sum of doubles is order-sensitive across engines; quantize each
        # event to integer micro-units FIRST so the sum is exact and
        # hash-identical (floor(v*1e6+.5) of the identical parquet double)
        micro = F.floor(F.col("value") * 1e6 + 0.5).cast("long")
        return sess.groupBy("user_id", "session_id").agg(
            F.count("*").alias("n_events"),
            F.sum(micro).alias("sum_value_e6"),
        )

    q["q54_sessionize_events"] = q54

    # (q55 percentiles folded into q53_corpus_stats r04 — same exact
    # percentile expressions, now joined with the vocab agg.)

    def x56(spark, sf):
        # skew-safe salted join: lineitem (big) x orders subset (small)
        li = spark.read.parquet(f"{sf}/lineitem.parquet")
        o = spark.read.parquet(f"{sf}/orders.parquet").filter(
            F.col("o_totalprice") > 100000
        ).select(F.col("o_orderkey").alias("l_orderkey"), "o_totalprice")
        cents = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
        return X.salted_join(li, o, "l_orderkey").groupBy("l_orderkey").agg(
            F.count("*").alias("n"), (F.sum(cents) / 100.0).alias("s")
        )

    q["q56_salted_join"] = x56

    def q57(spark, sf):
        # T4 full delete cascade: registry + spans + POSTINGS (the reference
        # delete removes index entries too, file_upload.py:481-651); a deleted
        # doc must be unreachable via the inverted index.  Output: surviving
        # per-doc posting counts after deleting doc 7 (all versions).
        from qs_spark.registry import delete_versions

        d = _docs(spark, sf)
        reg = _registry_df(spark, sf)
        spans = d.select("doc_id", F.lit(1).alias("version_id"), "text")
        postings = (
            d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term"))
            .groupBy("doc_id", "term")
            .agg(F.count("*").alias("tf"))
        )
        _, _, postings_keep = delete_versions(reg, spans, 7, None, postings=postings)
        return postings_keep.groupBy("doc_id").agg(
            F.count("*").alias("n_terms"), F.sum("tf").alias("n_postings")
        )

    q["q57_delete_cascade"] = q57

    def q58(spark, sf):
        # S12 scale path as the wired search default: materialized postings
        # table partitioned by term-hash bucket, partition-pruned lookup,
        # semi-join back to store rows — result must equal the scan-based
        # q05 (same oracle SQL).
        import tempfile

        from qs_spark.search import write_postings

        st = _docs_as_store(spark, sf)
        path = tempfile.mkdtemp(prefix="qs_postings_q_") + "/postings"
        write_postings(st, path)
        return S.search_rank(st, " ".join(TERMS), postings_path=path)

    q["q58_postings_search"] = q58

    def x47(spark, sf):
        # S13/T2/T3: checkpoint lineage rows after a checkpointed run
        import tempfile

        from qs_spark.catalog import ParquetCatalog
        from qs_spark.checkpoint import CKPT_TABLE, run_extract_checkpointed

        wh = tempfile.mkdtemp(prefix="qs_ckpt_q_")
        cat = ParquetCatalog(wh)
        docs = corpus_parquet(spark, 200)
        run_extract_checkpointed(spark, docs, cat, run_id="driver", n_buckets=8, buckets_per_wave=8)
        return cat.read(spark, CKPT_TABLE).select(
            "bucket", "doc_count", "span_count", "status", "run_id"
        )

    q["x47_checkpoint_lineage"] = x47

    def x48(spark, sf):
        # multimodal pipeline in one entry (driver-row budget): feature
        # extraction over every medium + video frame-sample counts joined on.
        # The embedding serializes as integer MICRO-UNITS (floor(x*1e6+.5))
        # rather than raw floats: float32 JSON formatting differs between
        # engines (Java shortest-float repr vs python float64 repr), while
        # the quantized ints are bit-identical — which lets the golden
        # pandas-reference oracle cover this entry too.
        from qs_spark.multimodal import extract_features, sample_frames, synth_media_df

        media = synth_media_df(spark, 512)
        e6 = F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1e6 + 0.5).cast("bigint"),
        )
        # decode_error is all-null on the synthetic corpus (every payload is
        # well-formed); drop it so the golden oracle's schema stays stable
        feats = extract_features(media).withColumn("embedding_e6", F.to_json(e6)).drop(
            "embedding", "decode_error"
        )
        # r05f/g: the frame rows are REAL h.264 access units PIXEL-DECODED
        # (I_PCM reconstruction, P_Skip resolution); fold the per-frame
        # decoded-plane digests into one order-stable md5 per video, count
        # IDR units, and sum the integer milli-mean luma — so the golden
        # oracle hash-validates the pixel decode itself, not just the
        # sampling-grid arithmetic
        frames = sample_frames(media).groupBy("media_ref").agg(
            F.count("*").alias("n_frames"),
            F.max("ts_ms").alias("last_ts_ms"),
            F.sum(F.col("is_idr").cast("int")).alias("n_idr"),
            F.sum("mean_luma_milli").alias("luma_milli_sum"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.sort_array(F.collect_list(F.struct("frame_idx", "frame_digest"))),
                        lambda s: s.frame_digest,
                    ),
                ).cast("binary")
            ).alias("frames_digest"),
        )
        return feats.join(frames, "media_ref", "left").fillna(
            {"n_frames": 0, "last_ts_ms": -1, "n_idr": -1,
             "luma_milli_sum": -1, "frames_digest": ""}
        )

    q["x48_media_pipeline"] = x48

    def q60(spark, sf):
        # get_file_list projection (reference API/router/api.py:763-840): the
        # per-(uid, doc) file listing — version list, current published
        # version, version count, published count — from the registry.
        # uid synthesized as in q44 (u0/u1/u2 by doc_id % 3).
        from qs_spark.registry import with_current_version

        reg = with_current_version(_registry_df(spark, sf))
        return (
            reg.groupBy("doc_id")
            .agg(
                # sort version_ids NUMERICALLY, then cast (a lexicographic
                # sort of the strings would emit '0,1,10,2' once a doc
                # reaches version 10 while the oracle's ORDER BY version_id
                # is numeric — r03 ADVICE)
                F.concat_ws(
                    ",",
                    F.transform(
                        F.sort_array(F.collect_list("version_id")),
                        lambda v: v.cast("string"),
                    ),
                ).alias("versions"),
                F.count("*").alias("n_versions"),
                F.max("current_version").cast("int").alias("current_version"),
                F.sum((F.col("state") == "Publish").cast("int")).alias("n_published"),
            )
            .withColumn("uid", F.concat(F.lit("u"), (F.col("doc_id") % 3).cast("string")))
        )

    q["q60_get_file_list"] = q60

    def q61(spark, sf):
        # Multi-page PDF walk with a pure-SQL oracle: every document becomes
        # a 3-page pdf — a text page, an EMPTY text page (must be dropped so
        # later orders shift), and a table page (OCR route: empty lines
        # dropped, each kept line stitched with a trailing newline).
        # Exercises S4's walk + the position-after-drop order contract on the
        # driver's own data, complementing x33's full-corpus digest.
        d = _docs(spark, sf)
        table_text = F.concat(
            F.lit("r1 "), F.col("source"), F.lit("\n\n"), F.lit("r2 "), F.col("lang")
        )
        wrapped = d.select(
            F.concat(F.lit("doc"), d.doc_id.cast("string")).alias("doc_id"),
            F.array(
                F.struct(
                    F.lit("pdf_text").alias("kind"),
                    F.col("text").alias("text"),
                    F.lit("").alias("media_ref"),
                    F.lit(0).alias("offset"),
                ),
                F.struct(
                    F.lit("pdf_text").alias("kind"),
                    F.lit("").alias("text"),
                    F.lit("").alias("media_ref"),
                    F.lit(1).alias("offset"),
                ),
                F.struct(
                    F.lit("pdf_table").alias("kind"),
                    table_text.alias("text"),
                    F.lit("").alias("media_ref"),
                    F.lit(2).alias("offset"),
                ),
            ).alias("spans"),
        )
        return extract_spans(wrapped).select(
            "doc_id", F.col("order").alias("span_order"), "kind", "text", "media_ref"
        )

    q["q61_extract_pdf_walk"] = q61

    def q63(spark, sf):
        # corpus_filter: the C4/Gopher cleaning pass as ONE keep/drop_reason
        # projection (composes the q25/q26/q02-oracled primitives).
        # drop_reason coalesced to '' (nullable-string hash stability) and
        # keep cast to int (no boolean column precedent in the harness).
        return X.corpus_filter(_docs(spark, sf)).select(
            "doc_id",
            "n_tokens",
            "punct_ratio",
            "lang_pred",
            "q_score",
            F.coalesce("drop_reason", F.lit("")).alias("drop_reason"),
            F.col("keep").cast("int").alias("keep"),
        )

    q["q63_corpus_filter"] = q63

    def q64(spark, sf):
        # J3 + T2: the consumer's Processing -> Success/Failed status
        # write-back (CON/event_driven/consumer.py:322-344) + the status-check
        # route's per-row status.  Docs with doc_id % 4 == 0 have no result
        # yet and stay 'Processing' (the left-join coalesce branch).
        from qs_spark.registry import resolve_status

        reg = _registry_df(spark, sf).withColumn("status", F.lit("Processing"))
        results = (
            _docs(spark, sf)
            .filter(F.col("doc_id") % 4 != 0)
            .select(
                "doc_id",
                F.when(F.col("doc_id") % 5 == 0, F.lit("Failed"))
                .otherwise(F.lit("Success"))
                .alias("outcome"),
            )
        )
        return resolve_status(reg, results).select(
            "doc_id", "version_id", "state", "status"
        )

    q["q64_registry_status"] = q64

    def q65(spark, sf):
        # F3 normalize_query: the reference's query normalization
        # (file_searcher.py:199-231) — driver-side Python in the service,
        # here run as an Arrow-batched kernel over synthesized raw queries
        # and value-matched against a pure-SQL re-derivation.
        import pandas as pd

        from qs_spark.search import normalize_query

        qdf = _docs(spark, sf).select(
            "doc_id",
            F.concat(
                F.lit('  The "'),
                F.substring("text", 1, 40),
                F.lit("\" JOIN-query!  "),
            ).alias("raw_q"),
        )

        def kern(batches):
            for pdf in batches:
                rows = [normalize_query(s) for s in pdf["raw_q"]]
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"],
                        "query_lower": [r[0] for r in rows],
                        "query_clean": [r[1] for r in rows],
                        "terms": [",".join(r[2]) for r in rows],
                    }
                )

        return qdf.mapInPandas(
            kern, "doc_id long, query_lower string, query_clean string, terms string"
        )

    q["q65_normalize_query"] = q65

    return {name: _with_cache_release(fn) for name, fn in q.items()}


# ---------------------------------------------------------------- oracles


def oracle_sql() -> dict[str, str]:
    terms_sql = "['" + "','".join(TERMS) + "']"
    markers_sql = "['" + "','".join(X._EN_MARKERS) + "']"

    o: dict[str, str] = {}

    o["q01_store_normalize"] = (
        "SELECT doc_id, replace(lower('File Name : doc' || doc_id || '.txt' ||"
        " chr(10) || chr(10) || chr(10) || text), chr(10), ' ') AS text_store FROM documents"
    )

    o["q02_token_counts"] = (
        "SELECT doc_id,"
        " len(string_split_regex(trim(text), '\\s+')) AS ws_tokens,"
        " cast(coalesce(list_sum(list_transform("
        "   list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''),"
        "   x -> cast(ceil(length(x) / 4.0) AS int))), 0) AS int) AS bpe_tokens_est"
        " FROM documents"
    )

    o["q05_or_search_rank"] = f"""
        WITH m AS (
          SELECT source FROM documents
          WHERE len(list_intersect(string_split(lower(text), ' '), {terms_sql})) > 0),
        pf AS (SELECT source AS document_name, count(*) AS match_count FROM m GROUP BY source),
        tot AS (SELECT count(*) AS n_files FROM pf),
        sc AS (SELECT document_name, match_count,
               round(least(0.7 + 0.3 * ln(1 + match_count) / ln(1 + n_files), 0.9995), 6) AS s6
               FROM pf, tot)
        SELECT document_name, match_count, round(s6 * 100, 3) AS relavence_score
        FROM sc WHERE s6 > 0.655
        ORDER BY relavence_score DESC, document_name LIMIT 200
    """

    o["q06_and_retrieval"] = (
        "SELECT cast(doc_id AS varchar) AS doc_id, source AS document_name FROM documents"
        f" WHERE list_contains(string_split(lower(text), ' '), '{TERMS[0]}')"
        f" AND list_contains(string_split(lower(text), ' '), '{TERMS[1]}')"
    )

    o["q07_exact_contains"] = (
        "SELECT cast(doc_id AS varchar) AS doc_id FROM documents"
        " WHERE contains(lower(text), 'spark join')"
    )

    o["q08_first_per_group"] = (
        "SELECT source, doc_id, n_chars FROM ("
        " SELECT source, doc_id, n_chars,"
        " row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn FROM documents)"
        " WHERE rn = 1"
    )

    # sums CAST to BIGINT (DuckDB sum(BIGINT) is HUGEINT -> float64 in
    # pandas, breaking the driver hash); avg quantized to exact integer
    # micro-units on both sides
    # doubled-separator overlap-tolerant phrase tf (see search.bm25l_phrase):
    # token stream with every space doubled; phrase with doubled internal
    # separators + single edge spaces, removed outright and length-counted
    phrase_dd = " " + "  ".join(PHRASE) + " "
    o["q12_bm25l_phrase"] = f"""
        WITH t AS (
          SELECT cast(doc_id AS varchar) AS doc_id,
                 list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS tk
          FROM documents),
        dd AS (
          SELECT doc_id, tk,
                 replace(' ' || array_to_string(tk, ' ') || ' ', ' ', '  ') AS s
          FROM t),
        m AS (
          SELECT doc_id, len(tk) AS dl,
                 cast((length(s) - length(replace(s, '{phrase_dd}', ''))) /
                      length('{phrase_dd}') AS int) AS tf
          FROM dd),
        s AS (SELECT count(*) AS n_rows, avg(dl) AS avdl,
                     sum(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS dfp FROM m)
        SELECT doc_id,
               round(ln((n_rows + 1) / (dfp + 0.5)) * (1.2 + 1) *
                     (tf / (1 - 0.75 + 0.75 * dl / avdl) + 0.5) /
                     (1.2 + tf / (1 - 0.75 + 0.75 * dl / avdl) + 0.5), 6) AS bm25l
        FROM m, s WHERE tf > 0
    """

    o["q13_semi_join"] = (
        "SELECT l_orderkey, count(*) AS n_lines,"
        " CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)"
        " / 100.0 AS sum_price"
        " FROM lineitem WHERE l_orderkey IN"
        " (SELECT o_orderkey FROM orders WHERE o_totalprice > 100000)"
        " GROUP BY l_orderkey"
    )

    o["q15_min_backfill"] = (
        "SELECT o_custkey, min(o_orderkey) AS first_orderkey,"
        " strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S') AS first_order_ts FROM orders o"
        " WHERE o_orderdate = (SELECT min(o_orderdate) FROM orders i"
        "                      WHERE i.o_custkey = o.o_custkey)"
        " GROUP BY o_custkey"
    )

    o["q16_region_revenue"] = (
        "SELECT r_name, count(*) AS n_orders,"
        " CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)"
        " / 100.0 AS revenue"
        " FROM orders JOIN customer ON o_custkey = c_custkey"
        " JOIN nation ON c_nationkey = n_nationkey"
        " JOIN region ON n_regionkey = r_regionkey GROUP BY r_name"
    )

    o["q18_events_hourly"] = (
        "SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,"
        " event_type, count(*) AS n_events,"
        " CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_e6"
        " FROM events GROUP BY 1, 2"
    )

    o["q19_dedup_exact"] = (
        "SELECT md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp,"
        " min(doc_id) AS keep_doc_id, count(*) AS n_dups FROM documents GROUP BY fp"
    )

    P = X.MINHASH_P
    mh_aggs = ", ".join(
        f"min((h1 + {i} * h2) % {P}) AS mh{i}" for i in range(X.MINHASH_K)
    )
    _H12_SQL = (
        f"SELECT doc_id, {_h60_sql('sh')} % {P} AS h1,"
        f" cast(('0x' || substr(md5(sh), 17, 15)) AS BIGINT) % {P} AS h2 FROM sh"
    )
    o["q20_minhash_signatures"] = f"""
        WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
        sh AS (SELECT DISTINCT doc_id, sh FROM (
          SELECT doc_id, unnest({_SHINGLES_SQL}) AS sh FROM toks)),
        h AS ({_H12_SQL})
        SELECT doc_id, {mh_aggs} FROM h GROUP BY doc_id
    """

    rows_per_band = X.MINHASH_K // X.LSH_BANDS
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({cols}) AS bucket FROM sig".format(
            b=b,
            cols=" || '_' || ".join(
                f"cast(mh{b * rows_per_band + r} AS varchar)" for r in range(rows_per_band)
            ),
        )
        for b in range(X.LSH_BANDS)
    )
    # candidates among exact-dup-cluster REPRESENTATIVES (min doc_id per
    # normalized-text fingerprint) — mirrors lsh_candidate_pairs' hot-bucket
    # guard #1.  Guard #2 (the >4096-member bucket star fallback) is
    # unreachable at driver scale (<= a few thousand docs total) and omitted.
    _REPS_SQL = (
        "SELECT min(doc_id) AS doc_id FROM documents"
        " GROUP BY md5(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    )
    o["q21_lsh_candidate_pairs"] = f"""
        WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents
                      WHERE doc_id IN ({_REPS_SQL})),
        sh AS (SELECT DISTINCT doc_id, sh FROM (
          SELECT doc_id, unnest({_SHINGLES_SQL}) AS sh FROM toks)),
        h AS ({_H12_SQL}),
        sig AS (SELECT doc_id, {mh_aggs} FROM h GROUP BY doc_id),
        b AS ({band_selects})
        SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
        FROM b l JOIN b r ON l.band = r.band AND l.bucket = r.bucket
        WHERE l.doc_id < r.doc_id
    """

    bit_aggs = ", ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(X.SIMHASH_BITS)
    )
    bit_sum = " + ".join(
        f"CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(X.SIMHASH_BITS)
    )
    # (q22/q27 retired from the driver's 50-row budget; their expressions
    # stay value-checked inside q50 and q19 respectively.)

    # LSH-prefiltered Jaccard: candidates from the same MinHash banding as
    # q21 (restricted to src0), exact Jaccard computed only for candidates —
    # mirrors the Spark scale path exactly (textops.ngram_jaccard_pairs)
    o["q23_ngram_jaccard"] = f"""
        WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents
                      WHERE doc_id IN ({_REPS_SQL})),
        sh AS (SELECT DISTINCT doc_id, sh FROM (
          SELECT doc_id, unnest({_SHINGLES_SQL}) AS sh FROM toks)),
        h AS ({_H12_SQL}),
        sig AS (SELECT doc_id, {mh_aggs} FROM h GROUP BY doc_id),
        b AS ({band_selects}),
        cand AS (
          SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
          FROM b l JOIN b r ON l.band = r.band AND l.bucket = r.bucket
          WHERE l.doc_id < r.doc_id),
        sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        inter AS (
          SELECT c.doc_a, c.doc_b, count(*) AS i
          FROM cand c JOIN sh a ON a.doc_id = c.doc_a
                      JOIN sh b2 ON b2.doc_id = c.doc_b AND b2.sh = a.sh
          GROUP BY 1, 2)
        SELECT doc_a, doc_b,
               round(i / (sa.sz + sb.sz - i), 6) AS jaccard
        FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
    """

    o["q24_ann_cosine_topk"] = """
        WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        s AS (
          SELECT vec_id,
                 list_sum(list_transform(range(len(e.ev)), i -> e.ev[i+1] * q.qv[i+1])) /
                 (sqrt(list_sum(list_transform(e.ev, x -> x * x))) *
                  sqrt(list_sum(list_transform(q.qv, x -> x * x)))) AS c
          FROM (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings) e, q)
        SELECT vec_id, round(c, 6) AS cosine FROM s ORDER BY cosine DESC, vec_id LIMIT 10
    """

    o["q25_text_quality"] = f"""
        WITH t AS (
          SELECT doc_id, text,
                 string_split(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' ') AS tk
          FROM documents),
        m AS (
          SELECT doc_id,
                 len(tk) AS n_tokens,
                 length(array_to_string(tk, '')) * 1.0 / greatest(len(tk), 1) AS avg_w,
                 (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) * 1.0 /
                   greatest(length(text), 1) AS pr,
                 len(list_intersect(tk, {markers_sql})) AS n_markers
          FROM t)
        SELECT doc_id, n_tokens, round(avg_w, 6) AS avg_word_len,
               round(pr, 6) AS punct_ratio, n_markers,
               round((CASE WHEN n_tokens >= 10 THEN 0.4 ELSE 0.0 END) +
                     (CASE WHEN avg_w >= 2.0 AND avg_w <= 12.0 THEN 0.3 ELSE 0.0 END) +
                     (CASE WHEN pr <= 0.2 THEN 0.2 ELSE 0.0 END) +
                     (CASE WHEN n_markers >= 1 THEN 0.1 ELSE 0.0 END), 2) AS quality
        FROM m
    """

    lang_lists = {
        lang: "['" + "','".join(ms) + "']" for lang, ms in X._LANG_MARKERS.items()
    }
    langs = list(X._LANG_MARKERS)
    hit_exprs = ", ".join(
        f"len(list_intersect(tk, {lang_lists[lang]})) AS hits_{lang}" for lang in langs
    )
    pred_cases = " ".join(
        "WHEN hits_{l} >= 3{ands} THEN '{l}'".format(
            l=lang,
            ands="".join(
                f" AND hits_{lang} >= hits_{later}" for later in langs[i + 1 :]
            ),
        )
        for i, lang in enumerate(langs)
    )
    o["q26_lang_id"] = f"""
        WITH t AS (
          SELECT doc_id,
                 string_split(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' ') AS tk
          FROM documents),
        h AS (SELECT doc_id, {hit_exprs} FROM t)
        SELECT doc_id, {', '.join('hits_' + lang for lang in langs)},
               CASE {pred_cases} ELSE 'other' END AS lang_pred
        FROM h
    """

    # publish(42, v1) then revert(43, None): every non-zero version of 43 ->
    # 'inter', nothing published; current_version = the published version per
    # doc (NULL after revert), cast double for a stable nullable dtype
    o["q28_publish_transition"] = f"""
        WITH reg AS ({_REGISTRY_SQL}),
        st AS (
          SELECT doc_id, version_id,
                 CASE WHEN doc_id = 42 AND version_id = 1 THEN 'Publish'
                      WHEN doc_id = 42 AND version_id = 0 THEN 'Draft'
                      WHEN doc_id = 42 THEN 'inter'
                      WHEN doc_id = 43 AND version_id = 0 THEN 'Draft'
                      WHEN doc_id = 43 THEN 'inter'
                      ELSE state END AS state
          FROM reg)
        SELECT doc_id, version_id, state,
               CAST(max(CASE WHEN state = 'Publish' THEN version_id END)
                    OVER (PARTITION BY doc_id) AS DOUBLE) AS current_version
        FROM st
    """

    o["q29_version_skip_anti"] = f"""
        WITH reg AS ({_REGISTRY_SQL})
        SELECT d.doc_id, cast(d.doc_id % 7 AS int) AS version_id FROM documents d
        WHERE NOT EXISTS (SELECT 1 FROM reg r
                          WHERE r.doc_id = d.doc_id
                            AND r.version_id = cast(d.doc_id % 7 AS int))
    """

    # q66: the greedy per-shard fill re-derived as a recursive CTE — state
    # (assign, pack_next, cur, fresh) steps row-by-row in doc_id order per
    # shard, exactly mirroring qs_spark.textops.pack_sequences' kernel;
    # per-shard pack counts prefix-sum into global pack ids the same way.
    o["q66_pack_sequences"] = """
        WITH RECURSIVE toks AS (
          SELECT doc_id,
                 cast(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
                 cast(doc_id % 8 AS int) AS shard
          FROM documents
        ), ordered AS (
          SELECT *, row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
          FROM toks
        ), fill AS (
          SELECT shard, rn, doc_id, n_tokens,
                 0::BIGINT AS assign,
                 CASE WHEN n_tokens > 64 THEN 1 ELSE 0 END::BIGINT AS pack_next,
                 CASE WHEN n_tokens > 64 THEN 0 ELSE n_tokens END::BIGINT AS cur,
                 (n_tokens > 64) AS fresh
          FROM ordered WHERE rn = 1
          UNION ALL
          SELECT o.shard, o.rn, o.doc_id, o.n_tokens,
                 f.pack_next + CASE WHEN NOT f.fresh AND f.cur + o.n_tokens > 64
                                    THEN 1 ELSE 0 END AS assign,
                 f.pack_next
                   + CASE WHEN NOT f.fresh AND f.cur + o.n_tokens > 64 THEN 1 ELSE 0 END
                   + CASE WHEN o.n_tokens > 64 THEN 1 ELSE 0 END AS pack_next,
                 CASE WHEN o.n_tokens > 64 THEN 0
                      WHEN NOT f.fresh AND f.cur + o.n_tokens > 64 THEN o.n_tokens
                      ELSE f.cur + o.n_tokens END AS cur,
                 (o.n_tokens > 64) AS fresh
          FROM ordered o JOIN fill f ON o.shard = f.shard AND o.rn = f.rn + 1
        ), counts AS (
          SELECT shard, max(assign) + 1 AS n_local FROM fill GROUP BY shard
        ), offs AS (
          SELECT shard, coalesce(sum(n_local) OVER (ORDER BY shard
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS base
          FROM counts
        )
        SELECT f.doc_id, f.n_tokens, f.assign + o.base AS pack_id,
               f.n_tokens > 64 AS oversize
        FROM fill f JOIN offs o USING (shard)
    """

    o["q53_corpus_stats"] = (
        "SELECT v.source, v.vocab_size, p.p50, p.p95 FROM ("
        " SELECT source, count(DISTINCT term) AS vocab_size FROM ("
        "  SELECT source, unnest(string_split(lower(text), ' ')) AS term FROM documents)"
        " GROUP BY source) v JOIN ("
        " SELECT source, round(quantile_cont(n_chars, 0.5), 6) AS p50,"
        " round(quantile_cont(n_chars, 0.95), 6) AS p95 FROM documents GROUP BY source)"
        " p USING (source)"
    )

    o["q54_sessionize_events"] = """
        WITH g AS (
          SELECT user_id, ts, value,
                 CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w IS NULL
                        OR epoch(ts) - lag(epoch(ts)) OVER w > 1800
                      THEN 1 ELSE 0 END AS new_session
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        s AS (
          SELECT user_id, value,
                 -- CAST: DuckDB's windowed sum(int) is HUGEINT, which pandas
                 -- receives as float64 (11.0) while Spark emits bigint (11) —
                 -- rows/schema matched but the driver value-hash didn't (r02)
                 CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS session_id
          FROM g)
        SELECT user_id, session_id, count(*) AS n_events,
               CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
                 AS sum_value_e6
        FROM s GROUP BY user_id, session_id
    """

    o["q56_salted_join"] = (
        "SELECT l_orderkey, count(*) AS n,"
        " CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)"
        " / 100.0 AS s"
        " FROM lineitem JOIN (SELECT o_orderkey FROM orders WHERE o_totalprice > 100000) o"
        " ON l_orderkey = o_orderkey GROUP BY l_orderkey"
    )

    o["x30_extract_md_passthrough"] = (
        "SELECT 'doc' || doc_id AS doc_id, 0 AS span_order, 'raw' AS kind,"
        " text, '' AS media_ref FROM documents"
    )

    o["x31_extract_txt_chunk"] = (
        "SELECT 'doc' || doc_id AS doc_id, 0 AS span_order, 'sentence_chunk' AS kind,"
        " text, '' AS media_ref FROM documents WHERE length(text) > 0"
    )

    o["x32_extract_html_strip"] = (
        "SELECT 'doc' || doc_id AS doc_id, 0 AS span_order, 'html_text' AS kind,"
        " text, '' AS media_ref FROM documents WHERE length(trim(text)) > 0"
    )

    # url built with %20 only -> decode == replace (DuckDB 1.0 lacks url_decode)
    o["q36_url_sha_scalars"] = (
        "SELECT doc_id,"
        " replace('doc%20' || doc_id || '.pdf', '%20', ' ') AS file_name,"
        " '.pdf' AS ext, sha256(text) AS checksum FROM documents"
    )

    # serialized (comma-joined) to match the entry's driver-safe output
    o["q38_realm_key_diff"] = """
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'region' ELSE '' END AS missing_keys,
               CASE WHEN doc_id % 2 = 0 THEN 'tier' ELSE '' END AS extra_keys
        FROM documents
    """

    o["q39_assign_index_ids"] = (
        "SELECT doc_id, cast(row_number() OVER (ORDER BY doc_id) + 1000 AS int)"
        " AS index_id FROM documents"
    )

    o["q42_text_search_sigmoid"] = f"""
        WITH t AS (
          SELECT cast(doc_id AS varchar) AS document_id, source AS document_name,
                 3.0 * len(list_filter(
                   list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''),
                   x -> list_contains({terms_sql}, x))) AS score
          FROM documents),
        f AS (SELECT * FROM t WHERE score >= 0.655),
        d AS (SELECT document_name, score,
                     row_number() OVER (PARTITION BY document_name
                                        ORDER BY score DESC, document_id) AS rn
              FROM f)
        SELECT document_name, round(1 / (1 + exp(-1.0 * score)), 6) AS relavence_score
        FROM d WHERE rn = 1
    """

    # components over the q21 candidate graph: symmetric closure + recursive
    # min-label reachability, min per node = the component representative
    o["q62_dedup_components"] = f"""
        WITH RECURSIVE toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents
                      WHERE doc_id IN ({_REPS_SQL})),
        sh AS (SELECT DISTINCT doc_id, sh FROM (
          SELECT doc_id, unnest({_SHINGLES_SQL}) AS sh FROM toks)),
        h AS ({_H12_SQL}),
        sig AS (SELECT doc_id, {mh_aggs} FROM h GROUP BY doc_id),
        b AS ({band_selects}),
        cand AS (
          SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
          FROM b l JOIN b r ON l.band = r.band AND l.bucket = r.bucket
          WHERE l.doc_id < r.doc_id),
        e AS (SELECT doc_a AS src, doc_b AS dst FROM cand
              UNION SELECT doc_b, doc_a FROM cand),
        reach AS (
          SELECT src AS node, src AS label FROM e
          UNION
          SELECT e.dst, reach.label FROM reach JOIN e ON e.src = reach.node)
        SELECT node, min(label) AS cluster FROM reach GROUP BY node
    """

    o["q45_union_modes"] = f"""
        WITH t AS (
          SELECT source AS document_name,
                 3.0 * len(list_filter(
                   list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''),
                   x -> list_contains({terms_sql}, x))) AS score
          FROM documents),
        sp AS (SELECT DISTINCT document_name, 'sp_index' AS mode FROM t WHERE score > 0),
        d AS (SELECT document_name,
                     row_number() OVER (PARTITION BY document_name ORDER BY score DESC) AS rn
              FROM t WHERE score >= 0.655),
        ts AS (SELECT document_name, 'text_search' AS mode FROM d WHERE rn = 1)
        SELECT * FROM sp UNION ALL SELECT * FROM ts
    """

    o["q46_embedding_near_dup"] = """
        WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS ev FROM embeddings),
        p AS (
          SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                 round(
                   list_sum(list_transform(range(len(a.ev)), i -> a.ev[i+1] * b.ev[i+1])) /
                   (sqrt(list_sum(list_transform(a.ev, x -> x * x))) *
                    sqrt(list_sum(list_transform(b.ev, x -> x * x)))), 6) AS cosine
          FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
        SELECT vec_a, vec_b, cosine FROM p WHERE cosine >= 0.35
    """

    # GLOBAL near-dup pairs (no group blocking): the Spark side generates
    # candidates via hamming-k pigeonhole bit-bands, which is lossless for
    # hamming <= 4, so brute-force all-pairs is the exact oracle
    o["q50_simhash_near_dup"] = f"""
        WITH toks AS (
          SELECT doc_id, {_h60_sql('tok')} AS h FROM (
            SELECT doc_id, unnest(string_split(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' ')) AS tok
            FROM documents)),
        per AS (SELECT doc_id, {bit_aggs} FROM toks GROUP BY doc_id),
        sh AS (SELECT doc_id, cast({bit_sum} AS bigint) AS simhash FROM per)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               cast(bit_count(xor(a.simhash, b.simhash)) AS int) AS hamming
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 4
    """

    o["q40_registry_stats"] = """
        WITH ids AS (SELECT doc_id, source,
                     cast(row_number() OVER (ORDER BY doc_id) AS int) AS index_id
                     FROM documents)
        SELECT source, count(*) AS total_vdocs, max(index_id) AS max_index_id
        FROM ids GROUP BY source
    """

    # P4 tenant-filtered search: q05's scoring over the uid/realm-filtered
    # row set (uid = 'u'||doc_id%3 -> 'u1'; realm lang tag -> 'en')
    o["q44_realm_search"] = f"""
        WITH m AS (
          SELECT source FROM documents
          WHERE len(list_intersect(string_split(lower(text), ' '), {terms_sql})) > 0
            AND doc_id % 3 = 1 AND lang = 'en'),
        pf AS (SELECT source AS document_name, count(*) AS match_count FROM m GROUP BY source),
        tot AS (SELECT count(*) AS n_files FROM pf),
        sc AS (SELECT document_name, match_count,
               round(least(0.7 + 0.3 * ln(1 + match_count) / ln(1 + n_files), 0.9995), 6) AS s6
               FROM pf, tot)
        SELECT document_name, match_count, round(s6 * 100, 3) AS relavence_score
        FROM sc WHERE s6 > 0.655
        ORDER BY relavence_score DESC, document_name LIMIT 200
    """

    # T4 cascade: postings for every doc EXCEPT the deleted one
    o["q57_delete_cascade"] = """
        SELECT doc_id, count(*) AS n_terms, CAST(sum(tf) AS BIGINT) AS n_postings
        FROM (
          SELECT doc_id, term, count(*) AS tf FROM (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
            FROM documents WHERE doc_id != 7)
          GROUP BY doc_id, term)
        GROUP BY doc_id
    """

    # the postings-table search path must produce EXACTLY the scan path's
    # result — same oracle as q05
    o["q58_postings_search"] = o["q05_or_search_rank"]

    # golden oracles (serial pandas reference, frozen by
    # tools/gen_golden_oracles.py — see _golden_sql)
    for key, fname in (
        ("x33_extract_full_corpus", "x33_extract_full_corpus.sql"),
        ("x34_search_with_previews", "x34_search_with_previews.sql"),
        ("x41_preview_docs_pages", "x41_preview_docs_pages.sql"),
        ("x47_checkpoint_lineage", "x47_checkpoint_lineage.sql"),
        ("x48_media_pipeline", "x48_media_pipeline.sql"),
    ):
        g = _golden_sql(fname)
        if g is not None:
            o[key] = g

    o["q60_get_file_list"] = f"""
        WITH reg AS ({_REGISTRY_SQL})
        SELECT doc_id,
               string_agg(CAST(version_id AS VARCHAR), ',' ORDER BY version_id)
                 AS versions,
               count(*) AS n_versions,
               CAST(max(CASE WHEN state = 'Publish' THEN version_id END) AS INT)
                 AS current_version,
               CAST(sum(CASE WHEN state = 'Publish' THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_published,
               'u' || CAST(doc_id % 3 AS VARCHAR) AS uid
        FROM reg GROUP BY doc_id
    """

    # 3-page pdf walk: page 0 = text layer (dropped when empty, shifting
    # later orders), page 1 = always-empty text page (always dropped),
    # page 2 = table page through the OCR route (empty lines dropped, each
    # kept line stitched with a trailing newline)
    o["q61_extract_pdf_walk"] = """
        SELECT 'doc' || doc_id AS doc_id, 0 AS span_order, 'pdf_text' AS kind,
               text, '' AS media_ref
        FROM documents WHERE length(text) > 0
        UNION ALL
        SELECT 'doc' || doc_id, CASE WHEN length(text) > 0 THEN 1 ELSE 0 END,
               'ocr', 'r1 ' || source || chr(10) || 'r2 ' || lang || chr(10), ''
        FROM documents
    """

    # ANN-LSH multiprobe over the signature-partitioned index: the closed-form
    # hyperplanes (_hyperplane: component d of plane i =
    # (((i*73856093 + d*19349663) % 2039) % 21) - 10, the prime-mix spatial
    # hash — keep in sync with textops._hyperplane and dot_exprs below)
    # and the Lv et al. probe order (flip lowest-|margin| bits first) are both
    # reproducible in SQL; dot products fold left-to-right in both engines
    # (same IEEE result — the q24 precedent).
    N_PLANES, N_PROBES = 6, 12
    dot_exprs = ", ".join(
        f"list_sum(list_transform(range(len(ev)),"
        f" d -> ev[d+1] * (((({i}*73856093 + d*19349663) % 2039) % 21) - 10)))"
        f" AS d{i}"
        for i in range(N_PLANES)
    )
    sig_expr = " + ".join(
        f"(CASE WHEN d{i} >= 0 THEN {1 << i} ELSE 0 END)" for i in range(N_PLANES)
    )
    # probe order = flip-mask score (sum of |margins| over flipped bits),
    # ties on the mask — byte-identical to textops.ann_probe_seq (adding 0.0
    # for unset bits leaves the IEEE sum unchanged)
    mask_score = " + ".join(
        f"(CASE WHEN (m >> {i}) & 1 = 1 THEN abs(d{i}) ELSE 0.0 END)"
        for i in range(N_PLANES)
    )
    o["q59_ann_lsh_indexed"] = f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
        d AS (SELECT vec_id, ev, {dot_exprs} FROM e),
        s AS (SELECT vec_id, ev, CAST({sig_expr} AS BIGINT) AS sig,
                     {', '.join(f'd{i}' for i in range(N_PLANES))} FROM d),
        q AS (SELECT * FROM s WHERE vec_id = 0),
        probes AS (
          SELECT xor(q.sig, CAST(m AS BIGINT)) AS p
          FROM (SELECT unnest(range({1 << N_PLANES})) AS m), q
          ORDER BY {mask_score}, m LIMIT {N_PROBES}),
        sel AS (SELECT vec_id, ev FROM s WHERE sig IN (SELECT p FROM probes)),
        r AS (SELECT sel.vec_id,
                list_sum(list_transform(range(len(sel.ev)), d -> sel.ev[d+1] * q.ev[d+1])) /
                (sqrt(list_sum(list_transform(sel.ev, x -> x * x))) *
                 sqrt(list_sum(list_transform(q.ev, x -> x * x)))) AS c
              FROM sel, q)
        SELECT vec_id, round(c, 6) AS cosine FROM r ORDER BY cosine DESC, vec_id LIMIT 10
    """

    # corpus_filter: q25's quality metrics + q26's lang pred + the fixed
    # reason precedence (thresholds compare the ROUNDED punct_ratio / q_score
    # exactly as textops.corpus_filter consumes text_quality's projection)
    o["q63_corpus_filter"] = f"""
        WITH t AS (
          SELECT doc_id, text,
                 string_split(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' ') AS tk
          FROM documents),
        m AS (
          SELECT doc_id, len(tk) AS n_tokens,
                 length(array_to_string(tk, '')) * 1.0 / greatest(len(tk), 1) AS avg_w,
                 round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) * 1.0 /
                   greatest(length(text), 1), 6) AS punct_ratio,
                 len(list_intersect(tk, {markers_sql})) AS n_markers,
                 {hit_exprs}
          FROM t),
        s AS (
          SELECT doc_id, n_tokens, punct_ratio,
                 CASE {pred_cases} ELSE 'other' END AS lang_pred,
                 round((CASE WHEN n_tokens >= 10 THEN 0.4 ELSE 0.0 END) +
                       (CASE WHEN avg_w >= 2.0 AND avg_w <= 12.0 THEN 0.3 ELSE 0.0 END) +
                       (CASE WHEN punct_ratio <= 0.2 THEN 0.2 ELSE 0.0 END) +
                       (CASE WHEN n_markers >= 1 THEN 0.1 ELSE 0.0 END), 2) AS q_score
          FROM m)
        SELECT doc_id, n_tokens, punct_ratio, lang_pred, q_score,
               coalesce(CASE WHEN n_tokens < 10 THEN 'too_short'
                             WHEN n_tokens > 1000000 THEN 'too_long'
                             WHEN punct_ratio > 0.2 THEN 'punctuation'
                             WHEN lang_pred <> 'en' THEN 'language'
                             WHEN q_score < 0.5 THEN 'low_quality' END, '') AS drop_reason,
               CASE WHEN n_tokens >= 10 AND n_tokens <= 1000000 AND punct_ratio <= 0.2
                     AND lang_pred = 'en' AND q_score >= 0.5 THEN 1 ELSE 0 END AS keep
        FROM s
    """

    # J3/T2 status resolution: rows without a result stay Processing
    o["q64_registry_status"] = f"""
        WITH reg AS ({_REGISTRY_SQL})
        SELECT r.doc_id, r.version_id, r.state,
               CASE WHEN d.doc_id IS NULL THEN 'Processing'
                    WHEN d.doc_id % 5 = 0 THEN 'Failed'
                    ELSE 'Success' END AS status
        FROM reg r LEFT JOIN (SELECT doc_id FROM documents WHERE doc_id % 4 <> 0) d
          USING (doc_id)
    """

    # F3 normalize_query re-derived in SQL (the entry runs the real Python
    # normalize_query in a kernel; value-hash equality == kernel == SQL spec)
    stop_sql = "['" + "','".join(w.replace("'", "''") for w in sorted(_STOPWORDS)) + "']"
    o["q65_normalize_query"] = f"""
        WITH r AS (
          SELECT doc_id,
                 '  The "' || substr(text, 1, 40) || '" JOIN-query!  ' AS raw_q
          FROM documents),
        n AS (SELECT doc_id, lower(trim(raw_q)) AS ql FROM r),
        c AS (SELECT doc_id, ql,
                     regexp_replace(replace(replace(ql, '"', ''), '''', ''),
                                    '[^a-z0-9 ]+', ' ', 'g') AS qc
              FROM n)
        SELECT CAST(doc_id AS BIGINT) AS doc_id, ql AS query_lower, qc AS query_clean,
               array_to_string(list_filter(string_split_regex(qc, '\\s+'),
                 x -> x <> '' AND NOT list_contains({stop_sql}, x)), ',') AS terms
        FROM c
    """

    return o
