"""Native-scan extraction path (extract.extract_spans_native).

The native path must be row-identical to the JVM-scan path on every input
it accepts, fall back to the JVM path when the table layout can't be
trusted, and plan splits/bins that cover the input exactly once.  The
equality tests are the contract that lets bench/jobs swap the scan path
without touching correctness entries (x33/q61 keep oracling the JVM path).
"""

import hashlib
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F, types as T

from qs_spark.corpus import corpus_parquet
from qs_spark.extract import (
    DEFAULT_SPLIT_THRESHOLD,
    SIZE_CLASS_COL,
    _make_native_reader_fn,
    _pack_splits_lpt,
    _plan_native_splits,
    extract_spans,
    extract_spans_native,
    oracle_extract,
    with_size_class,
)

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


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _span(kind, text, k):
    return {"kind": kind, "text": text, "media_ref": "", "offset": k}


def _words(seed, n):
    # incompressible text: file bytes then track the text written
    return " ".join(hashlib.md5(f"{seed}:{j}".encode()).hexdigest() for j in range(n))


def _mega_route(df):
    """'split' when the mega split/stitch branch (its window) is planned,
    else 'whole'."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return "split" if "Window" in plan else "whole"


def _executed_plan(df):
    """Collect df and return (rows, the executed plan's final text)."""
    rows = _rows(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    return rows, plan.split("== Initial Plan ==")[0]


def _oracle_rows(docs):
    return sorted(oracle_extract(docs).itertuples(index=False, name=None))


def _branch_table(spark, path):
    """A 100-page pdf mega (heavier than a parallelism slot's share: it
    takes the split route) and 8 small md docs, in the size_class layout."""
    rows = [("d_mega", [_span("pdf_text", f"page {i}", i) for i in range(100)])] + [
        (f"d_small_{k}", [_span("md", f"note {k}", 0), _span("md", "", 1)])
        for k in range(8)
    ]
    _write_sc_table(spark.createDataFrame(rows, SCHEMA), path)


def _write_pa(file, docs, offset=pa.int32()):
    """Write (doc_id, spans) docs to one parquet file with pyarrow."""
    span_type = pa.list_(
        pa.struct(
            [("kind", pa.string()), ("text", pa.string()),
             ("media_ref", pa.string()), ("offset", offset)]
        )
    )
    file.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(
        pa.table(
            {"doc_id": [did for did, _ in docs],
             "spans": pa.array([sp for _, sp in docs], span_type)}
        ),
        str(file),
    )


def _write_sc_table(df, path: str, threshold: int = DEFAULT_SPLIT_THRESHOLD):
    """Write the hive size_class layout corpus_parquet produces."""
    base = with_size_class(df, threshold)
    for cls in ("small", "mega"):
        (
            base.filter(F.col(SIZE_CLASS_COL) == cls)
            .drop(SIZE_CLASS_COL, "fmt")
            .repartition(2, F.xxhash64("doc_id"))
            .write.mode("overwrite")
            .parquet(os.path.join(path, f"{SIZE_CLASS_COL}={cls}"))
        )


def test_native_matches_jvm_path_on_corpus(spark):
    # 1500 docs includes the mega tail (assert it); no mega file here is
    # heavier than a slot's share, so the native wave extracts them whole
    # while the JVM path splits and stitches them
    df = corpus_parquet(spark, 1500)
    path = [f for f in df.inputFiles() if "size_class=mega" in f]
    assert path, "corpus must contain mega docs for this test to mean anything"
    table = df.inputFiles()[0].split("/size_class=")[0]
    table = table[7:] if table.startswith("file://") else table
    jvm = _rows(extract_spans(df, repartition_input=False))
    native = extract_spans_native(spark, table)
    assert _mega_route(native) == "whole"
    nat = _rows(native)
    assert len(nat) > 0
    assert nat == jvm


def test_native_falls_back_on_untrusted_threshold(spark, tmp_path):
    docs = [
        (
            "d_big",
            [
                {"kind": "pdf_text", "text": f"page {i}", "media_ref": "", "offset": i}
                for i in range(30)
            ],
        ),
        ("d_small", [{"kind": "md", "text": "tiny", "media_ref": "", "offset": 0}]),
    ]
    df = spark.createDataFrame(docs, SCHEMA)
    path = str(tmp_path / "custom_thresh.parquet")
    _write_sc_table(df, path, threshold=8)  # d_big is MEGA under 8
    # default-threshold native call must NOT trust the stored routing
    # (under 64 nothing is mega) — the fallback's derived filters re-route
    out = _rows(extract_spans_native(spark, path))
    ref = _rows(extract_spans(df, repartition_input=False))
    assert out == ref
    # matching threshold takes the native path and agrees too
    out8 = _rows(extract_spans_native(spark, path, split_threshold=8))
    ref8 = _rows(extract_spans(df, split_threshold=8, repartition_input=False))
    assert out8 == ref8


def test_native_hostile_table(spark, tmp_path):
    rows = [
        ("d_null_spans", None),
        ("d_empty_spans", []),
        (
            "d_null_fields",
            [{"kind": None, "text": None, "media_ref": None, "offset": None}],
        ),
        (
            "d_null_elem",
            [None, {"kind": "md", "text": "ok", "media_ref": "", "offset": 0}],
        ),
        ("d_unknown_kind", [{"kind": "weird", "text": "x", "media_ref": "", "offset": 0}]),
        ("d_good", [{"kind": "md", "text": "fine", "media_ref": "", "offset": 0}]),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    path = str(tmp_path / "hostile.parquet")
    _write_sc_table(df, path)
    out = _rows(extract_spans_native(spark, path))
    ref = _rows(extract_spans(df, repartition_input=False))
    assert out == ref


def test_native_mega_schema_read_from_a_mega_footer(spark, tmp_path):
    """The partitions' files may come from different writers: here the
    small files and a light mega file store spans.offset as int32, the
    heavy mega file as int64.  Spark reads only the heavy (split) mega, so
    its read must use that file's footer schema, not the small one's nor
    the light mega's (which sorts first and extracts in the kernel wave)."""

    small = [(f"d_small_{k}", [_span("md", f"note {k}", 0)]) for k in range(6)]
    light = [("d_mega_light", [_span("pdf_text", f"page {i}", i) for i in range(70)])]
    heavy = [("d_mega", [_span("pdf_text", _words(-i, 10), i) for i in range(100)])]
    path = tmp_path / "mixed_writers.parquet"
    for cls, name, docs, offset in (
        ("small", "part-0", small, pa.int32()),
        ("mega", "a_light", light, pa.int32()),
        ("mega", "b_heavy", heavy, pa.int64()),
    ):
        _write_pa(path / f"{SIZE_CLASS_COL}={cls}" / f"{name}.parquet", docs, offset)
    spans = extract_spans_native(spark, str(path))
    # the mega read is Spark's only on the split route
    assert _mega_route(spans) == "split"

    got = sorted(
        (r.doc_id, r.order, r.kind, r.text, r.media_ref) for r in spans.collect()
    )
    assert {"d_mega", "d_mega_light"} <= {r[0] for r in got}
    assert got == _oracle_rows(small + light + heavy)


def test_store_branch_annotation_writes_same_rows(spark, tmp_path):
    """On the split route build_store + write_store over the native extract
    (kernel wave unioned with the mega chain) write the same rows as over
    the JVM-path extract of the same table, in >= 2 files."""
    from qs_spark.store import build_store, write_store

    path = str(tmp_path / "branches.parquet")
    _branch_table(spark, path)

    spans = extract_spans_native(spark, path)
    assert _mega_route(spans) == "split"
    write_store(build_store(spans), str(tmp_path / "store_native"), min_files=2)
    jvm = extract_spans(spark.read.parquet(path), repartition_input=False)
    write_store(build_store(jvm), str(tmp_path / "store_jvm"), min_files=2)
    got = _rows(spark.read.parquet(str(tmp_path / "store_native")))
    want = _rows(spark.read.parquet(str(tmp_path / "store_jvm")))
    assert {r[1] for r in got} == {"d_mega"} | {f"d_small_{k}" for k in range(8)}
    assert got == want
    files = os.listdir(tmp_path / "store_native")
    assert sum(f.endswith(".parquet") for f in files) >= 2, files


def test_native_whole_megas_join_the_kernel_wave(spark, tmp_path):
    """Mega files no heavier than a parallelism slot's share extract whole
    in the native wave: one Python map, no stitch window.  An erroring mega
    doc keeps per-doc isolation: one order = -1 error span, its siblings
    unaffected."""
    small = [(f"d_small_{k}", [_span("md", _words(k, 40), 0)]) for k in range(40)]
    bad_html = [_span("html", f"<p>part {i}</p>", i) for i in range(70)]
    bad_html[33] = _span("html", "<p>x</p><![xyz]>", 33)
    megas = [
        ("d_mega_pdf", [_span("pdf_text", f"page {i}", i) for i in range(80)]),
        ("d_mega_docx", [_span("docx_para", f"para {i}", i) for i in range(90)]),
        ("d_mega_bad", bad_html),
    ]
    df = spark.createDataFrame(small + megas, SCHEMA)
    path = str(tmp_path / "whole.parquet")
    _write_sc_table(df, path)

    spans = extract_spans_native(spark, path)
    rows, plan = _executed_plan(spans)
    assert plan.count("MapInArrow") == 1 and "Window" not in plan, plan
    assert rows == _rows(extract_spans(df, repartition_input=False))
    assert [r[:5] for r in rows] == _oracle_rows(small + megas)
    bad = [r for r in rows if r[0] == "d_mega_bad"]
    assert len(bad) == 1 and bad[0][1] == -1 and bad[0][2] == "error"


def test_native_routes_each_mega_file_by_its_bytes(spark, tmp_path):
    """One call, both routes: the light mega file joins the kernel bins
    whole, the heavy one (more bytes than a parallelism slot's share) is
    read by Spark alone and split/stitched."""
    small = [(f"d_small_{k}", [_span("md", _words(k, 40), 0)]) for k in range(40)]
    light = [("d_mega_light", [_span("pdf_text", f"page {i}", i) for i in range(80)])]
    heavy = [
        ("d_mega_heavy", [_span("pdf_text", _words(-i, 10), i) for i in range(400)])
    ]
    path = tmp_path / "routes.parquet"
    for cls, name, docs in (
        ("small", "a", small[:20]),
        ("small", "b", small[20:]),
        ("mega", "light", light),
        ("mega", "heavy", heavy),
    ):
        _write_pa(path / f"{SIZE_CLASS_COL}={cls}" / f"{name}.parquet", docs)

    spans = extract_spans_native(spark, str(path))
    rows, plan = _executed_plan(spans)
    assert "Window" in plan and plan.count("MapInArrow") == 2, plan
    # 3 kernel bins: the two small files and the light mega; Spark reads
    # one file, the heavy mega
    assert "Range (0, 3," in plan and "InMemoryFileIndex(1 paths)" in plan, plan
    assert rows == _rows(
        extract_spans(spark.read.parquet(str(path)), repartition_input=False)
    )
    assert [r[:5] for r in rows] == _oracle_rows(small + light + heavy)


def test_native_routes_a_mega_by_a_slots_share(spark, tmp_path):
    """The routing threshold is a parallelism slot's share, total bytes /
    min(defaultParallelism, data files), not a kernel bin's mean load (two
    bins share a slot): with more files than slots, a mega file heavier
    than a bin's load but no heavier than a slot's share extracts whole."""
    small = [(f"d_small_{k}", [_span("md", _words(k, 20), 0)]) for k in range(24)]
    mega = [("d_mega", [_span("pdf_text", _words(-i, 2), i) for i in range(80)])]
    path = tmp_path / "slot_share.parquet"
    for k, doc in enumerate(small):
        _write_pa(path / f"{SIZE_CLASS_COL}=small" / f"s{k:02d}.parquet", [doc])
    _write_pa(path / f"{SIZE_CLASS_COL}=mega" / "m.parquet", mega)

    sizes = [os.path.getsize(f) for f in path.glob("*/*.parquet")]
    mega_bytes = os.path.getsize(path / f"{SIZE_CLASS_COL}=mega" / "m.parquet")
    slots, n = spark.sparkContext.defaultParallelism, len(sizes)
    assert n > slots, (n, slots)
    assert sum(sizes) / min(2 * slots, n) < mega_bytes <= sum(sizes) / min(slots, n)

    rows, plan = _executed_plan(extract_spans_native(spark, str(path)))
    assert plan.count("MapInArrow") == 1 and "Window" not in plan, plan
    assert [r[:5] for r in rows] == _oracle_rows(small + mega)


def test_pack_splits_lpt_covers_exactly_once():
    splits = [(f"f{i}", 0, -1) for i in range(17)]
    sizes = [(i * 37) % 101 + 1 for i in range(17)]
    bins = _pack_splits_lpt(splits, sizes, n_bins=5)
    assert len(bins) <= 5
    flat = [s for b in bins for s in b]
    assert sorted(flat) == sorted(splits)
    # LPT: heaviest bins within 2x of lightest (loose sanity bound)
    weight = dict(zip(splits, sizes))
    loads = sorted(sum(weight[s] for s in b) for b in bins)
    assert loads[-1] <= 2 * max(loads[0], 1) + max(sizes)


def test_plan_native_splits_row_group_ranges(tmp_path):
    # a file with 7 row groups split at a target that forces ranges
    t = pa.table({"doc_id": [str(i) for i in range(70)], "v": list(range(70))})
    f = str(tmp_path / "rg.parquet")
    pq.write_table(t, f, row_group_size=10)
    meta = pq.ParquetFile(f).metadata
    assert meta.num_row_groups == 7
    target = meta.row_group(0).total_byte_size * 2
    splits = _plan_native_splits([f], target_bytes=target)
    # ranges tile [0, 7) exactly, in order, no overlap
    covered = []
    for p, r0, r1 in splits:
        assert p == f and r1 > r0
        covered.extend(range(r0, r1))
    assert covered == list(range(7))
    # small files under target never pay a footer read: sentinel whole-file
    small = _plan_native_splits([f], target_bytes=10**9)
    assert small == [(f, 0, -1)]


def test_native_reader_row_group_ranges_read_all(spark, tmp_path):
    # reader fn honors rg ranges: two half-file splits == whole file
    docs = [
        (f"d{i}", [{"kind": "md", "text": f"t{i}", "media_ref": "", "offset": 0}])
        for i in range(40)
    ]
    import pandas as pd

    pdf = pd.DataFrame(docs, columns=["doc_id", "spans"])
    f = str(tmp_path / "two_rg.parquet")
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), f, row_group_size=20)
    bins = [[(f, 0, 1)], [(f, 1, 2)]]
    fn = _make_native_reader_fn(bins, chunk_size=102400)
    out = []
    for i in range(2):
        b = pa.RecordBatch.from_arrays([pa.array([i], pa.int32())], names=["bin_idx"])
        for rb in fn(iter([b])):
            out.extend(rb.column(0).to_pylist())
    assert sorted(out) == sorted(d for d, _ in docs)


def test_ingest_plan_construction_py4j_budget(spark, tmp_path):
    """Plan construction is driver time every ingest call pays before its
    first job: each Column op is a py4j round trip.  The SQL-text builders
    plan build_store(extract_spans_native(...)) in ~230 commands on a
    size-classed table with a split mega; the Column-op builders sent
    ~1,500."""
    from conftest import count_py4j_commands
    from qs_spark.store import build_store

    path = str(tmp_path / "budget.parquet")
    _branch_table(spark, path)
    build_store(extract_spans_native(spark, path))  # warm the lazy imports
    store, sent = count_py4j_commands(
        lambda: build_store(extract_spans_native(spark, path))
    )
    # the costlier route was planned: kernel wave + mega split/stitch
    assert _mega_route(store) == "split"
    assert sent <= 400, f"{sent} py4j commands to plan one ingest call"
