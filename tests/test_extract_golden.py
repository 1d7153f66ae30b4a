"""Golden end-to-end: distributed extraction == single-threaded oracle, on the
synthetic interleaved corpus, under (kind, text, media_ref, order) equality
(the north-rule invariant), at the reference chunk size (the only one the
engine runs).  Docs that span several chunks at that budget (a PURE-path
sheet, a pandas-path sheet, a txt doc) are built by hand: the corpus's
sheets fit one chunk.
"""

import pandas as pd

from conftest import oracle_extract
from qs_spark.corpus import corpus_df, gen_doc
from qs_spark.extract import extract_spans

N_DOCS = 400

KEY = ["doc_id", "order", "kind", "text", "media_ref"]


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    out = df[KEY].sort_values(["doc_id", "order"], kind="mergesort").reset_index(drop=True)
    out["order"] = out["order"].astype("int64")
    return out


def test_golden_span_equality(spark):
    got = _canon(extract_spans(corpus_df(spark, N_DOCS)).toPandas())
    want = _canon(oracle_extract([gen_doc(i) for i in range(N_DOCS)]))
    assert len(got) == len(want)
    pd.testing.assert_frame_equal(got, want)


def _multi_chunk_docs():
    """Three docs whose rendering exceeds the reference budget: an
    in-grammar xlsx sheet (the PURE chunker), a numeric csv sheet (the
    pandas chunker) and a txt doc."""
    sheet = ["name_a,label b,tag_c"] + [
        f"row_{i},word w{i % 97},item_{i % 13} x" for i in range(4000)
    ]
    csv = ["qty,price,total"] + [
        f"{1000000 + i * 7919},{i * 1234.56789:.5f},{i * 98765432101}" for i in range(3000)
    ]
    txt = " ".join(f"Sentence number {i} says something plain." for i in range(3000))
    return [
        (did, [{"kind": kind, "text": text, "media_ref": "", "offset": 0}])
        for did, kind, text in (
            ("d_sheet", "sheet_rows", "\n".join(sheet)),
            ("d_csv", "csv_rows", "\n".join(csv)),
            ("d_txt", "txt", txt),
        )
    ]


def test_multi_chunk_docs_at_reference_budget(spark, tmp_path):
    """Docs that span several chunks at CHUNK_SIZE extract identically on
    the JVM-scan and the native path."""
    from qs_spark.extract import (
        DOC_SCHEMA,
        SIZE_CLASS_COL,
        extract_spans_native,
        with_size_class,
    )
    from qs_spark.kernels.sheet_kernel import _pure_sheet_chunks

    docs = _multi_chunk_docs()
    # the two sheets take the two chunker paths
    assert _pure_sheet_chunks(docs[0][1][0]["text"], True) is not None
    assert _pure_sheet_chunks(docs[1][1][0]["text"], False) is None
    want = _canon(oracle_extract(docs))
    assert "error" not in set(want["kind"])
    assert want.groupby("doc_id").size().to_dict() == {
        "d_csv": 2, "d_sheet": 2, "d_txt": 2
    }

    df = spark.createDataFrame(docs, DOC_SCHEMA)
    pd.testing.assert_frame_equal(_canon(extract_spans(df).toPandas()), want)
    path = str(tmp_path / "multi_chunk.parquet")
    with_size_class(df).drop("fmt").write.partitionBy(SIZE_CLASS_COL).parquet(path)
    got = _canon(extract_spans_native(spark, path).toPandas())
    pd.testing.assert_frame_equal(got, want)


def test_mega_doc_split_stitch(spark):
    # doc 175 is a mega-doc (400 pages) in the first 2000: it splits into
    # ceil(400 / DEFAULT_SPLIT_THRESHOLD) = 7 parts; verify the re-stitched
    # ordering
    idxs = [170, 175, 180]
    import pyspark.sql.types as T

    from qs_spark.corpus import gen_batch

    schema = T.StructType.fromJson(
        {
            "type": "struct",
            "fields": [
                {"name": "doc_id", "type": "string", "nullable": True, "metadata": {}},
                {
                    "name": "spans",
                    "nullable": True,
                    "metadata": {},
                    "type": {
                        "type": "array",
                        "containsNull": True,
                        "elementType": {
                            "type": "struct",
                            "fields": [
                                {"name": "kind", "type": "string", "nullable": True, "metadata": {}},
                                {"name": "text", "type": "string", "nullable": True, "metadata": {}},
                                {"name": "media_ref", "type": "string", "nullable": True, "metadata": {}},
                                {"name": "offset", "type": "integer", "nullable": True, "metadata": {}},
                            ],
                        },
                    },
                },
            ],
        }
    )
    df = spark.createDataFrame(gen_batch(idxs), schema=schema)
    got = _canon(extract_spans(df).toPandas())
    want = _canon(oracle_extract([gen_doc(i) for i in idxs]))
    assert (got["doc_id"] == "doc00000175").sum() > 100  # mega actually extracted
    pd.testing.assert_frame_equal(got, want)


def test_mega_parts_distribute_across_partitions(spark):
    # skew-split parallelism: the parts of a 400-page mega doc hash to
    # MANY distinct shuffle partitions — one straggler task can never own the
    # whole doc
    import math

    from pyspark.sql import functions as F

    from qs_spark.extract import DEFAULT_SPLIT_THRESHOLD

    n_parts = math.ceil(400 / DEFAULT_SPLIT_THRESHOLD)
    n = (
        spark.range(n_parts)
        .select(F.pmod(F.xxhash64(F.lit("doc00000175"), "id"), F.lit(64)).alias("p"))
        .distinct()
        .count()
    )
    assert n >= n_parts - 1


def test_determinism_across_partitionings(spark):
    # §5-5: identical output under different parallelism (extract_spans
    # uses 4x shuffle.partitions: 4 vs 64 partitions)
    df = corpus_df(spark, 120)
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, "1")
        a = _canon(extract_spans(df).toPandas())
        spark.conf.set(key, "16")
        b = _canon(extract_spans(df).toPandas())
    finally:
        spark.conf.set(key, saved)
    pd.testing.assert_frame_equal(a, b)


def test_serial_reference_matches_kernels():
    """r03 VERDICT #3: the golden generator's extraction walk must be
    INDEPENDENT of qs_spark.kernels.  tools/serial_reference.py re-implements
    the whole walk (html.parser-callback HTML machine, O(rows^2) to_string
    sheet chunker, inline OCR spec); this test pins kernel ==
    independent-reference over a corpus slice that covers every format incl.
    a mega doc, plus hostile inputs."""
    import importlib.util
    import os
    import sys

    tool_dir = os.path.join(os.path.dirname(__file__), "..", "tools")
    sys.path.insert(0, tool_dir)
    try:
        import serial_reference as sr
    finally:
        sys.path.remove(tool_dir)
    # independence: the module must not IMPORT from qs_spark.kernels
    import ast
    import inspect

    tree = ast.parse(inspect.getsource(sr))
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            assert not any(a.name.startswith("qs_spark") for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            assert not (node.module or "").startswith("qs_spark")

    from qs_spark.corpus import gen_doc
    from qs_spark.kernels.dispatch import fmt_of_spans, safe_extract_doc

    for i in list(range(500)) + [1000, 1500]:  # 0/1000/1500 include megas; 500 = the golden scale
        did, spans = gen_doc(i)
        assert fmt_of_spans(spans) == sr.ref_fmt_of_spans(spans)
        assert safe_extract_doc(spans, None) == sr.ref_safe_extract_doc(spans, None), did
    # hostile inputs take the same error/empty paths
    for spans in ([], [{"kind": "txt", "text": None, "media_ref": "", "offset": 0}],
                  [{"kind": "csv_rows", "text": "", "media_ref": "", "offset": 0}],
                  [{"kind": "html", "text": "<p>a<table><tr><td>x</td></table>b</p>",
                    "media_ref": "", "offset": 0}]):
        assert safe_extract_doc(spans, None) == sr.ref_safe_extract_doc(spans, None)
    # pathological markup: the kernel's regex tokenizer and the oracle's
    # html.parser must agree outside the well-formed corpus domain too
    from qs_spark.kernels.html_kernel import extract_main

    for c in (
        "<p>a<div", "<p>a < b</p>", "<p>a<b</p>", "<p class='x>y'>z</p>",
        "<p>a&amp;b &lt;tag&gt;</p>", "<P>UPPER</P>",
        "<p>a<!-- <p>hidden</p> -->b</p>", "<p>one<p/>two</p>",
        "<p>a&nbsp;b</p>", "<p>broken &amp no-semi</p>",
        "<table><tr><td>a<td>b</table>", "<p >attr space</p>",
        "<p\nnewline>nl</p>", "<p>5 < 6 and 7 > 4</p>",
        '<p data-x="a>b">gt-in-attr</p>', "<li>a</LI>", "<p>&#65;&#x42;</p>",
        "<p>tail</p>trailing<p>next</p>",
        # r04 ADVICE divergences: custom-element names must not truncate at
        # '-' (<p-card> is NOT <p>), and an unquoted attribute value ending
        # in '/' is NOT self-closing (a_depth must not reset, so link text
        # stays subject to the link-density filter)
        "<p-card>inside custom</p-card>",
        "<p>keep</p><p-card>x</p-card><p>end</p>",
        "<p><a href=http://x.com/>all link text here</a></p>",
        "<p><a href=http://x.com/>link</a> plus much longer plain text</p>",
        # html.parser leniencies the round-5 tokenizer port covers
        "<li>a</ li>", "<p>a</p x>b", "</\"<p>a", "<p a=b\"c>d\">e",
        "<script>var s='<p>not a block</p>';</script><p>t</p>",
        "<script>a</header>b<p>HIDDEN</p></script><p>t</p>",
        "<!-- a -- >b--><p>c</p>", "<![if x]><p>y</p><![endif]>",
        "<p attr/>x", "<p attr=/>y", "<tag attr='v'/>z<p>w</p>",
        "<p a=\"1\"/x>y</p>", "</>x<p>y</p>", "<p ==junk\">q</p>",
    ):
        assert extract_main(c) == sr.ref_extract_main(c), c
    # the stdlib marked-section exceptions surface identically through the
    # doc-level error isolation (same exception text -> same error span)
    for c in ("<![xyz]>y", "<![ if]>y"):
        spans = [{"kind": "html", "text": c, "media_ref": "", "offset": 0}]
        assert safe_extract_doc(spans, None) == sr.ref_safe_extract_doc(spans, None)
        assert safe_extract_doc(spans, None)[0]["kind"] == "error"


def test_size_class_partitioned_table_routes_identically(spark, tmp_path):
    """The size_class partition column (Iceberg hidden-partitioning analog,
    written by corpus_parquet) must be a pure routing optimization: output
    identical to the derived-filter path, with BOTH branches exercised, and
    the branch filters pruned to partition directories (PartitionFilters in
    the scan, not a post-decode size() predicate)."""
    from qs_spark.corpus import corpus_parquet
    from qs_spark.extract import SIZE_CLASS_COL

    path = str(tmp_path / "sc_corpus.parquet")
    table = corpus_parquet(spark, 600, path=path)
    assert SIZE_CLASS_COL in table.columns
    # both partitions materialized (doc 175 is a 400-page mega)
    assert table.filter(f"{SIZE_CLASS_COL} = 'mega'").count() > 0
    got = _canon(extract_spans(table).toPandas())
    want = _canon(
        extract_spans(table.drop(SIZE_CLASS_COL)).toPandas()
    )  # derived-filter path
    pd.testing.assert_frame_equal(got, want)
    # partition pruning is visible in the physical plan of each branch
    plan = (
        table.filter(f"{SIZE_CLASS_COL} = 'mega'")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "size_class" in plan

