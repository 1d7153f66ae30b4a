"""Streaming ingestion: file-source stream -> foreachBatch extraction ->
idempotent append; exactly-once-effective via dedup-on-read (T5 contract).
"""

import pandas as pd

from conftest import oracle_extract
from qs_spark.corpus import corpus_df, gen_doc
from qs_spark.streaming import dedup_on_read, stream_extract


def test_stream_extract_matches_oracle(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    # two "arriving" micro-batch files
    corpus_df(spark, 40).write.mode("overwrite").parquet(in_dir)
    q = stream_extract(spark, in_dir, out_dir, ck)
    q.awaitTermination(120)

    got = dedup_on_read(spark.read.parquet(out_dir)).toPandas()
    got = (
        got[["doc_id", "order", "kind", "text", "media_ref"]]
        .sort_values(["doc_id", "order"], kind="mergesort")
        .reset_index(drop=True)
    )
    got["order"] = got["order"].astype("int64")
    want = (
        oracle_extract([gen_doc(i) for i in range(40)])
        .sort_values(["doc_id", "order"], kind="mergesort")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_dedup_on_read_kills_replays(spark, tmp_path):
    out_dir = str(tmp_path / "replay")
    from qs_spark.extract import extract_spans
    from pyspark.sql import functions as F

    spans = extract_spans(corpus_df(spark, 10))
    # simulate an at-least-once replay: same batch appended twice
    spans.withColumn("batch_id", F.lit(0)).write.mode("append").parquet(out_dir)
    spans.withColumn("batch_id", F.lit(1)).write.mode("append").parquet(out_dir)
    raw = spark.read.parquet(out_dir)
    deduped = dedup_on_read(raw)
    assert deduped.count() * 2 == raw.count()


def test_dedup_on_read_drops_stale_rows_of_updated_doc(spark):
    """r03 ADVICE (medium): a doc re-streamed with CHANGED content that
    yields FEWER spans / shorter postings must not keep serving the old
    version's surplus rows — dedup is document-granular (latest batch wins
    whole), not per-(row, pos)."""
    from qs_spark.streaming import postings_dedup_on_read

    spans_v1 = spark.createDataFrame(
        [("d1", i, "txt", f"v1 tok{i}", "", "txt", 0) for i in range(5)]
        + [("d2", 0, "txt", "other", "", "txt", 0)],
        "doc_id string, order int, kind string, text string, media_ref string,"
        " fmt string, batch_id long",
    )
    # v2 of d1 has only 2 spans; d2 untouched
    spans_v2 = spark.createDataFrame(
        [("d1", i, "txt", f"v2 tok{i}", "", "txt", 1) for i in range(2)],
        spans_v1.schema,
    )
    got = dedup_on_read(spans_v1.unionByName(spans_v2)).toPandas()
    d1 = got[got.doc_id == "d1"]
    assert len(d1) == 2 and set(d1.text) == {"v2 tok0", "v2 tok1"}
    assert len(got[got.doc_id == "d2"]) == 1

    # same contract on postings: stale (row_id, pos) entries vanish
    p1 = spark.createDataFrame(
        [("d1#0", "d1", "f1", 1, p, t, 0) for p, t in enumerate(["old", "stale", "gone"])],
        "row_id string, document_id string, document_name string, page_no int,"
        " pos int, term string, batch_id long",
    )
    p2 = spark.createDataFrame(
        [("d1#0", "d1", "f1", 1, 0, "new", 1)], p1.schema
    )
    terms = set(postings_dedup_on_read(p1.unionByName(p2)).toPandas().term)
    assert terms == {"new"}


def test_stream_update_index_serves_pruned_lookups(spark, tmp_path, monkeypatch):
    """Streaming index maintenance (IndexUpdateEvent analog): streamed docs
    become lookup-able through the bucket-pruned postings path, and a
    replayed batch vanishes under postings_dedup_on_read."""
    from pyspark.sql import functions as F

    from qs_spark import search
    from qs_spark.search import lookup_postings
    from qs_spark.streaming import postings_dedup_on_read, stream_update_index

    monkeypatch.setattr(search, "POSTINGS_BUCKETS", 16)
    in_dir, st_dir = str(tmp_path / "in"), str(tmp_path / "store")
    po_dir, ck = str(tmp_path / "postings"), str(tmp_path / "ck")
    corpus_df(spark, 30).write.mode("overwrite").parquet(in_dir)
    stream_update_index(spark, in_dir, st_dir, po_dir, ck).awaitTermination(180)

    # a term from a streamed doc is reachable via the pruned lookup
    store = spark.read.parquet(st_dir)
    some_term = (
        store.select(F.explode(F.split("text", " ")).alias("t"))
        .filter(F.length("t") > 3).first().t
    )
    hits = lookup_postings(spark, po_dir, [some_term])
    assert hits.count() > 0
    before = postings_dedup_on_read(spark.read.parquet(po_dir)).count()

    # replay: the SAME docs arrive again as a new file -> new micro-batch
    corpus_df(spark, 30).write.mode("append").parquet(in_dir)
    stream_update_index(spark, in_dir, st_dir, po_dir, ck).awaitTermination(180)
    raw = spark.read.parquet(po_dir)
    deduped = postings_dedup_on_read(raw)
    assert deduped.count() == before  # replays vanish
    assert raw.count() > before  # but were really appended


def test_compact_postings_preserves_lookups(spark, tmp_path, monkeypatch):
    """Index 'optimize' parity: after two streamed batches each bucket holds
    multiple files; compaction rewrites to one file per bucket and the
    deduped lookup result is unchanged."""
    import os

    from qs_spark import search
    from qs_spark.search import compact_postings, lookup_postings
    from qs_spark.streaming import postings_dedup_on_read, stream_update_index

    monkeypatch.setattr(search, "POSTINGS_BUCKETS", 8)
    in_dir, st_dir = str(tmp_path / "in"), str(tmp_path / "store")
    po_dir, ck = str(tmp_path / "postings"), str(tmp_path / "ck")
    corpus_df(spark, 20).write.mode("overwrite").parquet(in_dir)
    stream_update_index(spark, in_dir, st_dir, po_dir, ck).awaitTermination(180)
    corpus_df(spark, 20).write.mode("append").parquet(in_dir)  # replay batch
    stream_update_index(spark, in_dir, st_dir, po_dir, ck).awaitTermination(180)

    def files_per_bucket():
        counts = {}
        for d in os.listdir(po_dir):
            if d.startswith("term_bucket="):
                counts[d] = len([f for f in os.listdir(os.path.join(po_dir, d)) if f.endswith(".parquet")])
        return counts

    before_files = files_per_bucket()
    assert max(before_files.values()) > 1  # sliver files from two batches
    before = postings_dedup_on_read(spark.read.parquet(po_dir)).toPandas()
    compact_postings(spark, po_dir)
    after_files = files_per_bucket()
    assert max(after_files.values()) == 1
    after = postings_dedup_on_read(spark.read.parquet(po_dir)).toPandas()
    key = ["row_id", "pos"]
    assert before.sort_values(key).reset_index(drop=True).equals(
        after[before.columns].sort_values(key).reset_index(drop=True)
    )
    # pruned lookup still works against the compacted layout
    some_term = before.iloc[0]["term"]
    assert lookup_postings(spark, po_dir, [some_term]).count() > 0


def test_postings_layout_contract(spark, tmp_path, monkeypatch):
    """One postings layout, however the table was written: by write_postings,
    by two stream_update_index batches (the second a replay) and by
    compact_postings over that streamed table.  Every row sits in directory
    term_bucket=<term_bucket(term)> with the same column value, and
    lookup_postings returns exactly the rows a full-scan term filter does.
    A non-default bucket count shows that writer and reader both read
    POSTINGS_BUCKETS when called."""
    import random

    from pyspark.sql import functions as F

    from qs_spark import search
    from qs_spark.streaming import stream_update_index

    monkeypatch.setattr(search, "POSTINGS_BUCKETS", 8)
    in_dir, st_dir = str(tmp_path / "in"), str(tmp_path / "store")
    streamed, ck = str(tmp_path / "streamed"), str(tmp_path / "ck")
    corpus_df(spark, 20).write.mode("overwrite").parquet(in_dir)
    stream_update_index(spark, in_dir, st_dir, streamed, ck).awaitTermination(180)
    batch0 = spark.read.parquet(st_dir).filter("batch_id = 0").drop("batch_id")
    written = str(tmp_path / "written")
    search.write_postings(batch0, written)
    corpus_df(spark, 20).write.mode("append").parquet(in_dir)  # replay batch
    stream_update_index(spark, in_dir, st_dir, streamed, ck).awaitTermination(180)

    def check_layout(path):
        table = spark.read.parquet(path)
        dir_bucket = F.regexp_extract(F.input_file_name(), r"term_bucket=(\d+)/", 1)
        placed = (
            table.select("term", "term_bucket", dir_bucket.cast("int").alias("dir_bucket"))
            .distinct()
            .collect()
        )
        assert {r.term_bucket for r in placed} == set(range(8))
        terms = sorted({r.term for r in placed})
        bad = [r for r in placed if not r.term_bucket == r.dir_bucket == search.term_bucket(r.term)]
        assert bad == []
        for term in random.Random(3).sample(terms, 12):
            got = sorted(map(tuple, search.lookup_postings(spark, path, [term]).collect()))
            want = sorted(map(tuple, table.filter(F.col("term") == term).collect()))
            assert got == want and want, term
        return table

    assert check_layout(written).count() > 0
    before = sorted(map(tuple, check_layout(streamed).collect()))
    batches = spark.read.parquet(streamed).select("batch_id").distinct().collect()
    assert {r.batch_id for r in batches} == {0, 1}
    search.compact_postings(spark, streamed)
    assert sorted(map(tuple, check_layout(streamed).collect())) == before
