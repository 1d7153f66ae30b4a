"""Hostile/null inputs: a 100 TB table WILL contain nulls, empty arrays,
unknown kinds, and unicode — none of them may crash or silently drop work
they shouldn't."""

import pyspark.sql.types as T
from pyspark.sql import functions as F

from qs_spark.extract import extract_spans
from qs_spark.kernels.dispatch import extract_doc

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField(
            "spans",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("kind", T.StringType()),
                        T.StructField("text", T.StringType()),
                        T.StructField("media_ref", T.StringType()),
                        T.StructField("offset", T.IntegerType()),
                    ]
                )
            ),
        ),
    ]
)


def test_null_and_empty_spans_survive(spark):
    rows = [
        ("d_null_spans", None),
        ("d_empty_spans", []),
        ("d_null_fields", [{"kind": None, "text": None, "media_ref": None, "offset": None}]),
        ("d_null_elem", [None, {"kind": "md", "text": "ok", "media_ref": "", "offset": 0}]),
        ("d_unknown_kind", [{"kind": "weird", "text": "x", "media_ref": "", "offset": 0}]),
        ("d_good", [{"kind": "md", "text": "fine", "media_ref": "", "offset": 0}]),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    out = extract_spans(df).toPandas()
    # nothing crashed; the good docs' spans are present
    assert set(out[out.doc_id == "d_good"]["text"]) == {"fine"}
    assert "ok" in set(out[out.doc_id == "d_null_elem"]["text"])
    # null fields treated as empty md passthrough -> one empty 'raw' span
    assert (out[out.doc_id == "d_null_fields"]["kind"] == "raw").all()


def test_unicode_and_long_tokens(spark):
    text = "héllo wörld éè " + "x" * 5000 + ". End."
    units = extract_doc([{"kind": "txt", "text": text, "media_ref": "", "offset": 0}], "txt")
    assert units and units[0]["text"] == text  # single chunk identity holds

    html = "<body><p>café &amp; crème</p></body>"
    units = extract_doc([{"kind": "html", "text": html, "media_ref": "", "offset": 0}], "html")
    assert units[0]["text"] == "café & crème"


def test_broken_html_tolerated(spark):
    html = "<body><p>unclosed <div>nested <p>second</body "
    units = extract_doc([{"kind": "html", "text": html, "media_ref": "", "offset": 0}], "html")
    # html.parser is tolerant: no crash; some text recovered
    assert isinstance(units, list)


def test_per_doc_error_isolation(spark):
    """A malformed file yields an error span; the job and sibling docs are
    unaffected (reference: per-file Failed status, consumer.py:322-344)."""
    bad_csv = ",,\n"  # all-Unnamed with nothing after the retry -> EmptyDataError
    rows = [
        ("d_bad", [{"kind": "csv_rows", "text": bad_csv, "media_ref": "", "offset": 0}]),
        ("d_ok", [{"kind": "md", "text": "fine", "media_ref": "", "offset": 0}]),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    from qs_spark.extract import extract_spans
    from qs_spark.store import build_store

    spans = extract_spans(df)
    out = spans.toPandas()
    assert set(out[out.doc_id == "d_ok"]["text"]) == {"fine"}
    bad = out[out.doc_id == "d_bad"]
    assert len(bad) == 1 and bad.iloc[0]["kind"] == "error"
    assert "EmptyDataError" in bad.iloc[0]["text"]
    # the error span names the failed doc; the store excludes it
    assert {r.doc_id for r in spans.filter("kind = 'error'").collect()} == {"d_bad"}
    assert build_store(spans).filter(F.col("document_id") == "d_bad").count() == 0


def test_unknown_first_kind_matches_oracle(spark):
    """fmt derivation must scan for the first KNOWN kind like the oracle."""
    rows = [
        (
            "d_mixed",
            [
                {"kind": "bogus", "text": "junk", "media_ref": "", "offset": 0},
                {"kind": "pdf_text", "text": "real page", "media_ref": "", "offset": 1},
            ],
        )
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    from qs_spark.extract import extract_spans
    from qs_spark.kernels.dispatch import extract_doc

    got = extract_spans(df).toPandas().sort_values("order").reset_index(drop=True)
    want = extract_doc(
        [dict(kind="bogus", text="junk", media_ref="", offset=0),
         dict(kind="pdf_text", text="real page", media_ref="", offset=1)]
    )
    assert list(got["kind"]) == [u["kind"] for u in want] == ["pdf_text"]
    assert list(got["text"]) == ["real page"]


def test_all_empty_bucket_still_commits(spark, tmp_path):
    """Buckets whose docs all gate out must still checkpoint (else every
    resume re-extracts them), even when NO spans were ever written."""
    from qs_spark.catalog import ParquetCatalog
    from qs_spark.checkpoint import committed_buckets, run_extract_checkpointed

    rows = [(f"e{i}", [{"kind": "txt", "text": "", "media_ref": "", "offset": 0}]) for i in range(12)]
    df = spark.createDataFrame(rows, SCHEMA)
    cat = ParquetCatalog(str(tmp_path / "wh"))
    out = run_extract_checkpointed(spark, df, cat, run_id="empty", n_buckets=4, buckets_per_wave=2)
    assert out.count() == 0
    assert committed_buckets(spark, cat) == {0, 1, 2, 3}
    # the empty result carries the schema a run that wrote spans reads back
    one = spark.createDataFrame([("d", [{"kind": "md", "text": "x", "media_ref": "", "offset": 0}])], SCHEMA)
    cat_one = ParquetCatalog(str(tmp_path / "wh_one"))
    full = run_extract_checkpointed(spark, one, cat_one, run_id="one", n_buckets=4, buckets_per_wave=2)
    assert full.count() == 1
    assert out.schema == full.schema


def test_csv_with_quotes_and_commas(spark):
    csv = 'a,b\n"x, with comma","quo""te"\nplain,2'
    units = extract_doc([{"kind": "csv_rows", "text": csv, "media_ref": "", "offset": 0}], "csv")
    assert units and "x, with comma" in units[0]["text"]


def test_with_fmt_matches_fmt_of_spans(spark):
    """with_fmt (JVM) and fmt_of_spans over the native path's records
    (_docs_from_arrow: null elements dropped, null kinds '') agree on every
    known kind and on the null/empty/unknown edge cases.  The store's
    document_name extension is keyed on this fmt."""
    import pyarrow as pa

    from qs_spark.extract import _docs_from_arrow, with_fmt
    from qs_spark.kernels.dispatch import _FMT_BY_KIND, fmt_of_spans

    def sp(kind):
        return {"kind": kind, "text": "t", "media_ref": "", "offset": 0}

    rows = [(f"k_{k}", [sp(k)]) for k in _FMT_BY_KIND] + [
        ("null_array", None),
        ("empty_array", []),
        ("null_elem_first", [None, sp("pdf_text")]),
        ("only_null_elem", [None]),
        ("null_kind_first", [sp(None), sp("sheet_rows")]),
        ("only_null_kind", [sp(None)]),
        ("unknown_first", [sp("bogus"), sp("docx_para")]),
        ("only_unknown", [sp("bogus")]),
        ("empty_kind_first", [sp(""), sp("csv_rows")]),
    ]
    got = {r.doc_id: r.fmt for r in with_fmt(spark.createDataFrame(rows, SCHEMA)).collect()}
    batch = pa.RecordBatch.from_pylist(
        [{"doc_id": d, "spans": s} for d, s in rows],
        schema=pa.schema(
            [
                ("doc_id", pa.string()),
                (
                    "spans",
                    pa.list_(
                        pa.struct(
                            [
                                ("kind", pa.string()),
                                ("text", pa.string()),
                                ("media_ref", pa.string()),
                                ("offset", pa.int32()),
                            ]
                        )
                    ),
                ),
            ]
        ),
    )
    want = {did: fmt_of_spans(recs) for did, _, _, recs in _docs_from_arrow(batch)}
    assert len(want) == len(rows)
    assert got == want
    assert {got[f"k_{k}"] for k in _FMT_BY_KIND} == set(_FMT_BY_KIND.values())
    assert got["null_array"] == got["empty_array"] == "md"
    assert got["unknown_first"] == "docx"


def test_build_store_keeps_tenant_values_verbatim(spark):
    """state, version_id, uid and the realm keys/values are caller data: the
    store carries them byte-for-byte, quotes, backslashes and newlines
    included (they are literal Columns, never spliced into SQL text)."""
    from qs_spark.extract import extract_spans
    from qs_spark.store import build_store

    nasty = "it's \\ a\nline' OR '1'='1"
    realm = {"team's": "a\\b", "k\nv": "x'y", "plain": nasty}
    rows = [("d1", [{"kind": "md", "text": "Hello\nWorld", "media_ref": "", "offset": 0}])]
    store = build_store(
        extract_spans(spark.createDataFrame(rows, SCHEMA)),
        state=f"Pub'lish\\{nasty}",
        version_id=7,
        uid=f"u'\\\n{nasty}",
        realm=realm,
    )
    got = store.collect()
    assert len(got) == 1
    r = got[0]
    assert r.state == f"Pub'lish\\{nasty}"
    assert r.version_id == 7
    assert r.uid == f"u'\\\n{nasty}"
    assert dict(r.realm) == realm
    # the constant projection around them is unchanged
    assert (r.row_id, r.document_id, r.document_name, r.page_no) == ("d1#0", "d1", "d1.md", 1)
    assert r.text == "file name : d1.md   hello world"
    empty = build_store(extract_spans(spark.createDataFrame(rows, SCHEMA))).collect()
    assert dict(empty[0].realm) == {} and empty[0].state == "Publish"
