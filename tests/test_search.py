"""Search-operator tests: the Spark pipeline vs a straight-line Python
emulation of the reference's query path on the same small store.
"""

import math
import os

from pyspark.sql import functions as F

from qs_spark import search as S
from qs_spark.corpus import corpus_df
from qs_spark.extract import extract_spans
from qs_spark.previews import process_single_text, search_with_previews
from qs_spark.store import build_store

N_DOCS = 120


def _store(spark):
    spans = extract_spans(corpus_df(spark, N_DOCS))
    return build_store(spans).cache()


def test_store_normalization(spark):
    st = _store(spark)
    row = st.orderBy("row_id").first()
    assert row.text.startswith("file name : doc")  # F1 then F2 lowercased
    assert "\n" not in row.text  # F2: newlines -> spaces
    assert row.page_no >= 1


def test_query_normalization():
    q__, q_, terms = S.normalize_query('  The "Fast" JOIN-query!  ')
    assert q__ == 'the "fast" join-query!'
    assert q_ == "the fast join query "
    assert terms == ["fast", "join", "query"]  # stopword 'the' dropped


def test_stopword_only_query_short_circuits(spark):
    st = _store(spark)
    assert S.search_rank(st, "the and of").count() == 0


def test_or_vs_and_retrieval(spark):
    st = _store(spark)
    or_rows = S._match_rows_or(st, ["spark", "vector"]).count()
    and_rows = S._match_rows_and(st, ["spark", "vector"]).count()
    assert and_rows <= or_rows
    assert or_rows > 0


def test_or_scan_equals_postings_join(spark):
    st = _store(spark)
    terms = ["spark", "vector"]
    scan_ids = {r.row_id for r in S._match_rows_or(st, terms).select("row_id").collect()}
    post_ids = {
        r.row_id for r in S.or_search_postings(S.build_postings(st), terms).collect()
    }
    assert scan_ids == post_ids


def test_search_rank_matches_reference_formula(spark):
    st = _store(spark)
    res = S.search_rank(st, "spark join").toPandas()
    assert len(res) > 0
    assert res["relavence_score"].is_monotonic_decreasing
    # recompute one row's score with the reference formula (utils/util.py:165-192)
    n_files = len(
        S._match_rows_or(st, ["spark", "join"]).select("document_name").distinct().collect()
    )
    r0 = res.iloc[0]
    expected = round(
        min(0.7 + 0.3 * math.log(1 + r0.match_count) / math.log(1 + n_files), 0.9995), 6
    )
    assert abs(r0.relavence_score - round(expected * 100, 3)) < 1e-9
    assert len(res) <= S.MAX_DOC_LIMIT


def test_topk_cap_at_200_files(spark):
    # FIXTURES.md F-4: a query matching >200 files truncates to MAX_DOC_LIMIT
    from qs_spark.corpus import corpus_parquet
    from qs_spark.extract import extract_spans
    from qs_spark.store import build_store

    store = build_store(extract_spans(corpus_parquet(spark, 600)))
    res = S.search_rank(store, "table").toPandas()
    assert len(res) == S.MAX_DOC_LIMIT  # 600 files, common term -> capped


def test_exact_match_containment(spark):
    st = _store(spark)
    res = S.search_rank(st, "spark join", exact_match=True)
    names = {r.document_name for r in res.collect()}
    # every hit's file must have a row containing the literal substring
    lit = st.filter(F.col("text").contains("spark join"))
    lit_names = {r.document_name for r in lit.select("document_name").distinct().collect()}
    assert names <= lit_names


def test_exact_match_ands_stopwords_too(spark):
    # reference passes query_ (stopwords INCLUDED) to and_query for
    # search_type='search' (file_searcher.py:269-272): 'the spark' must
    # require BOTH tokens, not just 'spark'
    rows = [
        ("r1", "d1", "f1", 1, "the spark engine"),
        ("r2", "d2", "f2", 1, "breathe spark nap the spark"),  # has token 'the'
        ("r3", "d3", "f3", 1, "spark only here the-less"),  # no token 'the'... has 'the'? 'the-less' tokenizes to ['the','less']!
        ("r4", "d4", "f4", 1, "spark without stopword token"),
    ]
    st = spark.createDataFrame(
        rows, "row_id string, document_id string, document_name string, page_no int, text string"
    )
    matched = S.match_query_rows(st, "the spark", exact_match=True).toPandas()
    # r4 contains token 'spark' but NOT 'the' -> excluded by the AND;
    # r1/r2 contain both tokens AND the substring 'the spark'
    assert "r4" not in set(matched["row_id"])
    assert {"r1", "r2"} <= set(matched["row_id"])


def test_preview_window_reference_semantics():
    # char-exact vs the reference algorithm (file_preview.py:45-83)
    text = "alpha beta gamma delta TARGET epsilon zeta eta theta"
    got = process_single_text(text, "target", 3, -1)
    assert got == []  # case-sensitive: store text is lowercased first
    # manual trace of the reference algorithm: slice ws[before-3] -> ws[after+2]
    # = " gamma delta target epsilon zeta".strip()
    got = process_single_text(text.lower(), "target", 3, -1)
    assert got == ["gamma delta target epsilon zeta"]
    # filename-tag snippets are dropped (tag inside the window -> snippet killed)
    got2 = process_single_text("file name : x.pdf rest", "name", 3, -1)
    assert got2 == []


def test_preview_limit_and_boost(spark):
    st = _store(spark)
    res = search_with_previews(st, "spark join").toPandas()
    assert len(res) > 0
    assert (res["preview"].map(len) <= S.MAX_PREVIEW_COUNT * 50).all()
    with_prev = res[res["preview"].map(len) > 0]
    if len(with_prev):
        # F11 lifts any previewed doc to >= 90
        assert (with_prev["relavence_score"] >= 90.0 - 1e-9).all()


def test_write_store_rebalances_files(spark, tmp_path):
    """write_store packs output into size-derived files (Iceberg
    write.distribution-mode analog) instead of one sliver per upstream task,
    preserving rows exactly."""
    import os

    from qs_spark.store import write_store

    st = _store(spark)
    path = str(tmp_path / "st")
    write_store(st, path, est_bytes=0, min_files=4)
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(files) == 4
    back = spark.read.parquet(path)
    assert sorted(r.row_id for r in back.select("row_id").collect()) == sorted(
        r.row_id for r in st.select("row_id").collect()
    )


def test_preview_survivors_not_force_broadcast(spark):
    """r03 VERDICT #2: in OR mode P7 never filters (BASE_SCORE 0.7 > cutoff
    0.655), so `survivors` is every matching file — a static broadcast hint
    on it would OOM at corpus scale.  The equi-join on document_name must be
    UNHINTED (AQE decides at runtime from actual size).  The 1-row n_files
    scalar rides a crossJoin and is legitimately hinted — only the
    document_name join lines are checked."""
    st = _store(spark)
    opt = (
        search_with_previews(st, "spark vector")
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    bad = [
        ln
        for ln in opt.splitlines()
        if "Join Inner" in ln and "document_name" in ln and "strategy=broadcast" in ln
    ]
    assert bad == []


def test_postings_table_partition_pruning(spark, tmp_path):
    path = str(tmp_path / "postings")
    st = _store(spark)
    S.write_postings(st, path, n_buckets=16)
    hits = S.lookup_postings(spark, path, ["spark", "vector"], n_buckets=16)
    # pruned lookup == full-scan lookup
    full = spark.read.parquet(path).filter(F.col("term").isin(["spark", "vector"]))
    assert hits.count() == full.count() > 0
    # plan must show a partition filter on term_bucket (directory pruning)
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "term_bucket" in plan.split("PartitionFilters", 1)[1][:200]


def test_postings_bytes_do_not_depend_on_store_files(spark, tmp_path):
    """The same store rows written as 1 file and as 2 files must give
    byte-identical postings parts: every bucket's rows are written in
    postings-key order, not in the order the store's files feed them."""
    import glob

    st = _store(spark)
    parts = {}
    for n_files in (1, 2):
        store_path = str(tmp_path / f"store{n_files}")
        st.repartition(n_files).write.parquet(store_path)
        stored = spark.read.parquet(store_path)
        assert len(stored.inputFiles()) == n_files
        out = str(tmp_path / f"postings{n_files}")
        S.write_postings(stored, out, n_buckets=8)
        parts[n_files] = {
            os.path.basename(os.path.dirname(f)): open(f, "rb").read()
            for f in glob.glob(f"{out}/term_bucket=*/*.parquet")
        }
    assert len(parts[1]) == 8
    assert sorted(parts[1]) == sorted(parts[2])
    diff = [b for b in parts[1] if parts[1][b] != parts[2][b]]
    assert diff == []


def test_bm25l_phrase(spark):
    st = _store(spark)
    res = S.bm25l_phrase(st, ["data", "table"]).toPandas()
    if len(res):
        assert res["bm25l"].is_monotonic_decreasing
        # every scored row really contains the adjacent phrase
        ids = [r for r in res["row_id"][:5]]
        rows = st.filter(F.col("row_id").isin(ids)).select("row_id", "text").collect()
        for r in rows:
            toks = " ".join(
                t for t in __import__("re").sub(r"[^a-z0-9]+", " ", r.text).split() if t
            )
            assert "data table" in toks


def test_exact_match_wordless_query_short_circuits(spark):
    # and_query([]) in the reference returns nothing; a punctuation-only
    # exact query must not degrade into a full-store P6 scan
    st = _store(spark)
    assert S.search_rank(st, "?!,.", exact_match=True).count() == 0
    assert S.match_query_rows(st, "?!,.", exact_match=True) is None


def test_tenant_filter_p4(spark):
    # uid + realm-tag equality mirror file_searcher.py:236,258,265
    rows = [
        ("r1", "d1", "f1", 1, "alpha text", "Publish", "u1", {"lang": "en"}),
        ("r2", "d2", "f2", 1, "alpha text", "Publish", "u2", {"lang": "en"}),
        ("r3", "d3", "f3", 1, "alpha text", "Publish", "u1", {"lang": "fr"}),
        ("r4", "d4", "f4", 1, "alpha text", "Draft", "u1", {"lang": "en"}),
    ]
    st = spark.createDataFrame(
        rows,
        "row_id string, document_id string, document_name string, page_no int,"
        " text string, state string, uid string, realm map<string,string>",
    )
    got = S.filter_tenant(st, state="Publish", uid="u1", realm={"lang": "en"})
    assert {r.row_id for r in got.collect()} == {"r1"}
    out = S.search_rank(st, "alpha", state="Publish", uid="u1", realm={"lang": "en"})
    assert {r.document_name for r in out.collect()} == {"f1"}


def test_search_rank_postings_path_equals_scan(spark, tmp_path):
    # the partition-pruned postings path is the scale default and must
    # reproduce the scan result exactly
    st = _store(spark)
    path = str(tmp_path / "postings")
    S.write_postings(st, path)
    scan = S.search_rank(st, "spark vector window").toPandas()
    pruned = S.search_rank(st, "spark vector window", postings_path=path).toPandas()
    assert scan.equals(pruned)


def _unpartitioned_windows(plan: str) -> list[str]:
    """Window nodes that move ALL rows to one partition.  A partitioned
    Window prints `Window [exprs], [partCols], [orderCols]` (two `], [`
    separators); an unpartitioned ordered one prints
    `Window [exprs], [orderCols]`, and a partitioned unordered one
    `Window [exprs], [partCols]` — the two-group forms differ in whether the
    trailing group carries sort directions.  The scalar one-row aggregates
    (n_files) legitimately use Exchange SinglePartition after partial
    aggregation, so that string is NOT the right predicate."""
    out = []
    for ln in plan.splitlines():
        if "Window [" not in ln:
            continue
        if ln.count("], [") >= 2:
            continue  # 3-group form: explicitly partitioned
        tail = ln.rsplit("], [", 1)[-1]
        if " ASC" in tail or " DESC" in tail:
            out.append(ln)  # trailing group is an ORDERING -> no partition
    return out


def test_score_per_file_no_single_partition_window(spark):
    # n_files is a broadcast scalar and scoring never funnels all rows into
    # one partition.  (The store's lineage carries doc_id-PARTITIONED
    # windows from the mega-doc stitch — those scale fine; the killer is an
    # unpartitioned window.)
    st = _store(spark)
    plan = (
        S.search_rank(st, "spark vector")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert _unpartitioned_windows(plan) == []


def test_exact_match_postings_path_equals_scan(spark, tmp_path):
    # AND via the pruned index + P6 on hit rows only == the chained
    # array_contains full scan
    st = _store(spark)
    path = str(tmp_path / "postings")
    S.write_postings(st, path)
    scan = S.search_rank(st, "index score", exact_match=True).toPandas()
    pruned = S.search_rank(
        st, "index score", exact_match=True, postings_path=path
    ).toPandas()
    assert scan.equals(pruned)
    assert len(scan) > 0  # the phrase occurs in this corpus slice


def test_preview_search_postings_path_equals_scan(spark, tmp_path):
    # the full preview flow through the index must match the scan flow
    st = _store(spark)
    path = str(tmp_path / "postings")
    S.write_postings(st, path)
    a = search_with_previews(st, "spark vector").toPandas()
    b = search_with_previews(st, "spark vector", postings_path=path).toPandas()
    assert a.drop(columns=["preview"]).equals(b.drop(columns=["preview"]))
    assert list(a.preview.map(tuple)) == list(b.preview.map(tuple))


def test_bm25l_adjacent_repeats_counted(spark):
    """r02 documented undercount, now fixed: back-to-back phrase repeats
    share a boundary space but must each count toward tf (the
    doubled-separator trick makes them disjoint for replace-counting)."""
    st = spark.createDataFrame(
        [
            ("r0", "d", "f.txt", 1, "data table data table"),       # tf 2
            ("r1", "d", "g.txt", 1, "data table x data table"),     # tf 2
            ("r2", "d", "h.txt", 1, "data table only once here"),   # tf 1
            ("r3", "d", "i.txt", 1, "data tablex data"),            # tf 0
        ],
        "row_id string, document_id string, document_name string, page_no int, text string",
    )
    res = S.bm25l_phrase(st, ["data", "table"]).toPandas().set_index("row_id")
    assert set(res.index) == {"r0", "r1", "r2"}  # r3 never matches
    # equal-dl rows with equal tf score equally; higher tf scores higher
    assert res.loc["r0", "bm25l"] > res.loc["r2", "bm25l"]
    assert res.loc["r1", "bm25l"] > res.loc["r2", "bm25l"]


def test_python_xxh64_matches_spark_expression(spark):
    """r04 VERDICT #1: lookup_postings now computes term buckets with a
    driver-side pure-Python XXH64 instead of a per-query Spark job — the
    hash must be BIT-identical to Spark's xxhash64 expression (seed 42) for
    every input length class (empty, <4, <8, 8..31, >=32 bytes, non-ASCII),
    and the derived bucket must equal pmod(xxhash64(term), n)."""
    terms = [
        "", "a", "ab", "abc", "abcd", "abcde", "abcdefg", "abcdefgh",
        "spark", "window", "batch", "a" * 31, "b" * 32, "c" * 100,
        "Ünïcødé-tërm", "混合文字列", "tab\tand\nnewline",
    ]
    df = spark.createDataFrame([(t,) for t in terms], ["term"]).select(
        "term",
        F.xxhash64("term").alias("h"),
        F.pmod(F.xxhash64("term"), F.lit(64)).cast("int").alias("b"),
    )
    for r in df.collect():
        assert S._xxh64(r.term.encode("utf-8")) == r.h, r.term
        assert S.term_bucket(r.term, 64) == r.b, r.term


def test_search_rank_postings_single_aggregate_exchange(spark, tmp_path):
    """The pure-index plan's per-file count is a distinct-AGGREGATE (one
    logical aggregate over the pruned scan), not distinct-then-count — and
    no per-query Spark job runs for bucket selection (job count stays flat
    across repeated plan builds)."""
    st = _store(spark)
    path = str(tmp_path / "post16")
    S.write_postings(st, path)
    sc = spark.sparkContext
    # warm the reader (parquet partition discovery runs its own listing jobs
    # — those are layout scans, not per-query work)
    spark.read.parquet(path).schema
    before = sc.statusTracker().getJobIdsForGroup(None)
    plan = (
        S.search_rank(st, "spark batch window", postings_path=path)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    after = sc.statusTracker().getJobIdsForGroup(None)
    # bucket selection runs driver-side: at most the reader's listing jobs,
    # never a createDataFrame+collect round trip (old shape: +1 collect job
    # with a shuffle; listing jobs are shuffle-free)
    assert len(after) - len(before) <= 2
    # one aggregate pair (partial+final) computing count(distinct row_id);
    # the old shape had an extra Deduplicate/Distinct node first
    assert "count(distinct row_id" in plan.lower() or "countdistinct" in plan.lower()
    assert "Deduplicate" not in plan
