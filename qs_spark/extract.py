"""Distributed extraction pipeline.

Spark re-expression of the reference upload pipeline's parse stage
(quanta-search-consumer/core/file_upload.py:129-194 + the per-format wheels):

    input (doc_id, spans[])                         [Iceberg/parquet scan]
      -> format derivation (JVM-side column expr, no Python)
      -> skew split: docs with many page-local units are sliced into parts
         BEFORE the shuffle, so one mega-doc never stalls a task (AQE handles
         shuffle-join skew but not UDF-compute skew — SURVEY.md §4.1)
      -> salted repartition on xxhash64(doc_id[, part]) -> ONE Arrow-batched
         per-doc kernel for whole docs and mega parts alike (_make_doc_fn;
         mapInArrow, no per-row Python in the exchange)
      -> mega-doc parts re-stitched per doc (_stitch: one JVM window over
         (part_k, local_order), `order` renumbered after empty-unit drops,
         matching add_metadata's enumeration semantics)

Mega-doc routing is metadata-only when the input table carries a
`size_class` partition column (the Iceberg hidden-partitioning analog,
written by corpus.corpus_parquet): each branch's filter is on the partition
column, so the scan reads every byte exactly ONCE across the two branches
instead of decoding the full payload twice.

The Python exchange uses mapInArrow rather than mapInPandas: Spark's
list<struct> -> pandas conversion materializes one dict per span and the
kernel-side record build used to allocate a second — flattening the struct
column once per batch and building the kernel records directly from the flat
field arrays measured ~25% faster end-to-end on the 100k-doc corpus.

Sheets and txt chunk at the reference loaders' hard-coded budget
(kernels.sheet_kernel.CHUNK_SIZE = 102400) and at no other: the span
contract is equality with those loaders, so no entry point takes a budget.

Output: (doc_id, order, kind, text, media_ref, fmt) — the first five columns
are the span contract; `fmt` rides along for the store builder.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from qs_spark.kernels.dispatch import (
    _FMT_BY_KIND,
    SPLITTABLE_FMTS,
    fmt_of_spans,
    safe_extract_doc,
)

_SPAN_PA_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("order", pa.int32()),
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("fmt", pa.string()),
    ]
)

# a mega-doc part's spans: `order` is local to the part (renumbered at
# _stitch) and part_k rides through from the input
_PART_PA_SCHEMA = _SPAN_PA_SCHEMA.set(1, pa.field("local_order", pa.int32())).append(
    pa.field("part_k", pa.int32())
)

SPAN_SCHEMA = from_arrow_schema(_SPAN_PA_SCHEMA)
_PART_SCHEMA = from_arrow_schema(_PART_PA_SCHEMA)

# the input docs table: what the corpus generator writes, a stream's source
# files hold and extract_spans reads
DOC_SCHEMA = (
    "doc_id string, "
    "spans array<struct<kind: string, text: string, media_ref: string, offset: int>>"
)

# the split mega files' Spark read schema: one fixed type for every writer.
# Parquet files may store spans.offset as int32 or int64, and Spark reads
# either as bigint but an int64 file fails under `int`
_SPLIT_READ_SCHEMA = (
    "doc_id string, "
    "spans array<struct<kind: string, text: string, media_ref: string, offset: bigint>>"
)

# max raw spans one kernel call handles for a page-local doc: larger docs are
# sliced into ceil(n / threshold) parts that extract in parallel and
# re-stitch, which bounds per-task memory and wall whatever the size tail.
# The slicing never changes a doc's spans (page-local formats only).
DEFAULT_SPLIT_THRESHOLD = 64
SIZE_CLASS_COL = "size_class"


def sql_str(s: str) -> str:
    """SQL string literal for one of this package's constants.  Caller
    values (tenant, state, version) never go through here: they stay
    F.lit Columns, so no caller text is ever parsed as SQL."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_map(d: dict[str, str]) -> str:
    """SQL `map(k1, v1, ...)` literal of a constant string map."""
    return "map(" + ", ".join(sql_str(x) for kv in d.items() for x in kv) + ")"


# The ingest plan's column logic is SQL text built once from the constant
# maps: every Column op is one py4j round trip, and a DataFrame op takes one
# JVM analyzer pass however many expressions it carries, so one expression
# string per output column builds the same plan in a fraction of the calls
# (the textops.lsh_buckets pattern).

# first span whose kind is KNOWN decides the format (unknown/null kinds are
# skipped, not defaulted), falling back to 'md'.  transform/filter/get are
# null-safe on empty/null arrays (spans[0] would throw under ANSI mode), and
# the coalesce keeps fmt non-null so neither branch filter can drop a doc.
_FMT_SQL = (
    f"coalesce(get(filter(transform(spans, s -> {sql_map(_FMT_BY_KIND)}[s.kind]),"
    " f -> f IS NOT NULL), 0), 'md')"
)


def with_fmt(df: DataFrame) -> DataFrame:
    """JVM-side format derivation, semantically IDENTICAL to the oracle's
    fmt_of_spans (parity pinned by test_with_fmt_matches_fmt_of_spans).
    The kind->fmt map is imported from kernels.dispatch so pipeline and
    oracle can never drift."""
    return df.withColumn("fmt", F.expr(_FMT_SQL))


# the docs routed to the split/re-stitch path: page-local formats with more
# raw spans than one kernel call should own
_MEGA_SQL = (
    f"fmt IN ({', '.join(sql_str(f) for f in SPLITTABLE_FMTS)})"
    f" AND size(spans) > {DEFAULT_SPLIT_THRESHOLD}"
)


def with_size_class(df: DataFrame) -> DataFrame:
    """Derive the mega/small routing column.  Written as a PARTITION column
    at table-build time (corpus.corpus_parquet; on Iceberg you'd declare it
    as a hidden partition transform) so extract_spans' two branches become
    partition-pruned scans — each input byte is read once, not twice."""
    if "fmt" not in df.columns:
        df = with_fmt(df)
    return df.withColumn(
        SIZE_CLASS_COL, F.expr(f"CASE WHEN {_MEGA_SQL} THEN 'mega' ELSE 'small' END")
    )


def _docs_from_arrow(batch: pa.RecordBatch):
    """Yield (doc_id, fmt, part_k, records) per document from one Arrow
    batch, building the kernel's list-of-dict span records straight from the
    flattened struct children (no pandas, no intermediate dict per span).

    When the batch carries no `fmt` column (the native-scan path reads raw
    table batches straight off parquet), fmt is yielded as None and the
    caller derives it per doc with kernels.dispatch.fmt_of_spans — the exact
    Python mirror of with_fmt (parity pinned by test_extract_golden).
    part_k is None likewise unless the batch has that column (mega parts).

    Null-safety mirrors the old pandas path: a null spans array or a null
    struct element is treated as absent, null fields as ''/0 — a 100 TB table
    always carries a few of those and they must not kill a task."""
    import pyarrow.compute as pc

    idx = {n: i for i, n in enumerate(batch.schema.names)}
    spans = batch.column(idx["spans"])
    lengths = pc.list_value_length(spans).fill_null(0).to_pylist()
    flat = pc.list_flatten(spans)  # concatenated children; null lists skipped
    svalid = flat.is_valid().to_pylist() if flat.null_count else None
    kinds = flat.field("kind").to_pylist()
    texts = flat.field("text").to_pylist()
    refs = flat.field("media_ref").to_pylist()
    offs = flat.field("offset").to_pylist()
    dids = batch.column(idx["doc_id"]).to_pylist()
    fmts = batch.column(idx["fmt"]).to_pylist() if "fmt" in idx else None
    parts = batch.column(idx["part_k"]).to_pylist() if "part_k" in idx else None
    pos = 0
    for i in range(batch.num_rows):
        ln = lengths[i]
        recs = []
        for j in range(pos, pos + ln):
            if svalid is not None and not svalid[j]:
                continue  # null struct element == absent span
            recs.append(
                {
                    "kind": kinds[j] or "",
                    "text": texts[j] or "",
                    "media_ref": refs[j] or "",
                    "offset": offs[j] if offs[j] is not None else 0,
                }
            )
        pos += ln
        fmt = fmts[i] if fmts is not None else None
        part_k = parts[i] if parts is not None else None
        yield dids[i], fmt, part_k, recs


def _make_doc_fn(schema: pa.Schema):
    """The per-doc mapInArrow kernel: every doc of a batch through
    safe_extract_doc, one output row per span.  With _SPAN_PA_SCHEMA it
    serves whole docs (the small branch and the native bins); with
    _PART_PA_SCHEMA mega-doc parts, each row carrying its part's part_k."""
    with_part_k = "part_k" in schema.names

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            cols: tuple[list, ...] = tuple([] for _ in schema)
            o_did, o_order, o_kind, o_text, o_ref, o_fmt = cols[:6]
            for did, fmt, part_k, recs in _docs_from_arrow(batch):
                if fmt is None:  # native-scan batches carry no fmt column
                    fmt = fmt_of_spans(recs)
                # page-local formats only reach the part path, so extracting
                # a slice is semantics-preserving; a part's order is LOCAL
                # and renumbered at stitch
                units = safe_extract_doc(recs, fmt)
                for u in units:
                    o_did.append(did)
                    o_order.append(u["order"])
                    o_kind.append(u["kind"])
                    o_text.append(u["text"])
                    o_ref.append(u["media_ref"])
                    o_fmt.append(fmt)
                if with_part_k:
                    cols[6].extend([part_k] * len(units))
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, type=f.type) for c, f in zip(cols, schema)],
                schema=schema,
            )

    return fn


def _stitch(parts: DataFrame) -> DataFrame:
    """Ordered merge of mega-doc parts, entirely JVM-side: renumber by
    (part_k, local_order) per doc -> globally identical to a serial walk.

    Error-isolation parity with the whole-doc path: if ANY part's kernel
    raised, safe_extract_doc on the whole doc would have failed the whole doc
    with a single order=-1 error span — collapse to the FIRST error row by
    (part_k, local_order).  Both the renumber and the collapse ride ONE
    window shuffle (same partitioning/ordering), and the kernel child is
    consumed exactly once — an applyInPandas stitch did the same logic but
    paid a second Arrow->pandas round trip of the full mega payload."""
    is_err = "CASE WHEN kind = 'error' THEN 1 ELSE 0 END"
    w = "PARTITION BY doc_id ORDER BY part_k, local_order"
    return (
        parts.selectExpr(
            "*",
            f"sum({is_err}) OVER (PARTITION BY doc_id) AS n_err",
            f"sum({is_err}) OVER ({w}) AS err_seen",  # running, incl. self
            f"row_number() OVER ({w}) AS rn",
        )
        .filter("n_err = 0 OR (kind = 'error' AND err_seen = 1)")
        .selectExpr(
            "doc_id",
            "CAST(CASE WHEN n_err > 0 THEN -1 ELSE rn - 1 END AS INT) AS `order`",
            "kind",
            "text",
            "media_ref",
            "fmt",
        )
    )


def extract_spans(df: DataFrame) -> DataFrame:
    """(doc_id, spans[]) -> ordered extracted spans.

    Page-local docs with more than DEFAULT_SPLIT_THRESHOLD raw spans are
    sliced into parts that extract in parallel and re-stitch.  Both
    exchanges use 4x shuffle.partitions: per-doc extraction cost is
    long-tailed (a big sheet costs ~100x the median doc), so
    over-partitioning keeps heavy docs from piling up in one task; the ~ms
    per-partition overhead is cheap against a multi-second straggler.

    The two branches each scan the input.  When the table carries the
    `size_class` partition column the branch filters are partition-pruned
    (each byte decoded once); the column only routes, so a table classed by
    another writer yields the same spans.  Without it the filters are
    derived, two real scans — cheap columnar reads on a real table, but
    callers with a generated/expensive source should materialize first (see
    corpus.corpus_parquet).

    The small branch always takes a salted shuffle (xxhash64(doc_id)) of
    its raw payloads before the kernel, whatever the input's layout.  A
    bucket-partitioned on-disk table skips that shuffle through
    extract_spans_native, which maps its kernel over the table's files.
    """
    spark = df.sparkSession
    num_partitions = 4 * int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    has_class = SIZE_CLASS_COL in df.columns
    df = with_fmt(df)
    if has_class:
        # partition-column filters -> pruned scans, payload decoded once
        small = df.filter(f"{SIZE_CLASS_COL} = 'small'")
        mega = df.filter(f"{SIZE_CLASS_COL} = 'mega'")
    else:
        small = df.filter(f"NOT ({_MEGA_SQL})")
        mega = df.filter(_MEGA_SQL)

    # prune to exactly the kernel's columns BEFORE the Arrow exchange —
    # mapInArrow ships every input column to Python otherwise
    small = small.select("doc_id", "spans", "fmt").repartition(
        num_partitions, F.expr("xxhash64(doc_id)")
    )
    small_out = small.mapInArrow(_make_doc_fn(_SPAN_PA_SCHEMA), schema=SPAN_SCHEMA)

    mega_out = _extract_mega(mega, num_partitions)

    return small_out.unionByName(mega_out)


def _extract_mega(mega: DataFrame, num_partitions: int) -> DataFrame:
    """The mega-doc split/extract/re-stitch branch (needs a `fmt` column):
    slices of DEFAULT_SPLIT_THRESHOLD raw spans run through the same per-doc
    kernel as whole docs, and _stitch renumbers them.  extract_spans sends
    every mega doc here; extract_spans_native only the mega files heavier
    than a parallelism slot's share (the rest extract whole in its native
    wave)."""
    t = DEFAULT_SPLIT_THRESHOLD
    parts = (
        mega.selectExpr(
            "doc_id",
            "fmt",
            "posexplode(transform("
            f"sequence(0, CAST(ceil(size(spans) / {t}) AS INT) - 1), "
            f"i -> slice(spans, i * {t} + 1, {t}))) AS (part_k, spans)",
        )
        # no reorder select: the kernel reads Arrow columns by NAME
        # (_docs_from_arrow builds a name index), so column order is free
        .repartition(num_partitions, F.expr("xxhash64(doc_id, part_k)"))
        .mapInArrow(_make_doc_fn(_PART_PA_SCHEMA), schema=_PART_SCHEMA)
    )
    return _stitch(parts)


# --------------------------------------------------------------------------
# Native-scan fast path: pyarrow reads the parquet bytes INSIDE the Python
# workers, so the raw payload never pays the JVM columnar->row->Arrow-IPC
# re-serialization that dominates the mapInArrow exchange (measured at sf0.1:
# the identity Python round trip costs ~3.5x the pure columnar scan).  This
# is the PyIceberg/at-scale pattern: table metadata (partition dirs = the
# manifest stand-in) plans (file, row-group-range) splits driver-side; each
# task decodes its fragment Arrow-natively and runs the kernel in-process.
# Real data crosses the Python/JVM boundary exactly once — the OUTPUT spans.
# Mega files join the same bins whole unless one outweighs a parallelism
# slot's share; only those go through a JVM scan and the split/stitch branch.
# --------------------------------------------------------------------------

_NATIVE_TARGET_SPLIT_BYTES = 128 * 1024 * 1024
_NATIVE_BATCH_ROWS = 8192


def _plan_native_splits(
    files: dict[str, int], target_bytes: int = _NATIVE_TARGET_SPLIT_BYTES
) -> list[tuple[tuple[str, int, int], int]]:
    """((path, rg_start, rg_end), weight) splits of a {path: bytes} map;
    rg_end == -1 means "whole file", weighted by its bytes (footer never
    read driver-side for files under target_bytes — at 100 TB only the rare
    oversized data file pays a metadata read; Iceberg manifests carry
    row-group offsets and would make even that free).  A row-group range
    weighs target_bytes."""
    import pyarrow.parquet as pq

    splits: list[tuple[tuple[str, int, int], int]] = []
    for f in sorted(files):
        if files[f] <= target_bytes:
            splits.append(((f, 0, -1), files[f]))
            continue
        meta = pq.ParquetFile(f).metadata
        n_rg = meta.num_row_groups
        # group row groups into runs of ~target_bytes (uncompressed
        # total_byte_size — the kernel-work proxy; per-column compressed
        # sizes exist but the coarser number is fine for task sizing)
        run_start, run_bytes = 0, 0
        for g in range(n_rg):
            run_bytes += meta.row_group(g).total_byte_size
            if run_bytes >= target_bytes:
                splits.append(((f, run_start, g + 1), target_bytes))
                run_start, run_bytes = g + 1, 0
        if run_start < n_rg:
            splits.append(((f, run_start, n_rg), target_bytes))
        if n_rg == 0:
            splits.append(((f, 0, -1), files[f]))
    return splits


def _pack_splits_lpt(
    splits: list[tuple[tuple[str, int, int], int]], n_bins: int
) -> list[list[tuple[str, int, int]]]:
    """Longest-processing-time packing of (split, weight) pairs into n_bins
    task bins: sort by byte weight descending, assign each to the lightest
    bin.  Bounds imbalance at (1 + 1/k) of optimal — good enough that ~2
    waves of bins per core beat per-file tasks, because every Python task
    pays a fixed cost on top of its data: JVM scheduling, the worker
    handshake and the Arrow stream, ~30-45 ms of CPU per no-op mapInArrow
    task (4 vCPUs, local[4]).  Until qs_spark.pydaemon it was ~0.17-0.22 s,
    most of it each task re-reading pyspark.zip's directory (r06: 390
    one-file tasks = ~4 s of pure task overhead at 32 cores)."""
    import heapq

    n_bins = max(1, min(n_bins, len(splits)))
    heap = [(0, i) for i in range(n_bins)]
    heapq.heapify(heap)
    bins: list[list[tuple[str, int, int]]] = [[] for _ in range(n_bins)]
    for s, w in sorted(splits, key=lambda x: -x[1]):
        load, i = heapq.heappop(heap)
        bins[i].append(s)
        heapq.heappush(heap, (load + w, i))
    return [b for b in bins if b]


def _make_native_reader_fn(bins: list[list[tuple[str, int, int]]]):
    """mapInArrow fn over a bin-index table: each task streams its bin's
    parquet fragments through the per-doc kernel.  Bounded memory: one
    Arrow batch of raw payload + its extracted spans live at a time.  The
    bin list rides the task closure (paths only — at real scale you'd ship
    it as a broadcast of the Iceberg scan-task list; same shape)."""
    whole = _make_doc_fn(_SPAN_PA_SCHEMA)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.parquet as pq

        for b in batches:
            for bin_idx in b.column(0).to_pylist():
                for pth, r0, r1 in bins[bin_idx]:
                    pf = pq.ParquetFile(pth)
                    rgs = (
                        list(range(pf.metadata.num_row_groups))
                        if r1 < 0
                        else list(range(r0, r1))
                    )
                    if not rgs:
                        continue
                    raw = pf.iter_batches(
                        batch_size=_NATIVE_BATCH_ROWS,
                        row_groups=rgs,
                        columns=["doc_id", "spans"],
                    )
                    yield from whole(iter(raw))

    return fn


def native_scan_table(
    spark, path: str, split_threshold: int
) -> tuple[dict[str, int], dict[str, int]] | None:
    """Validate `path` as a size_class-partitioned span table trusted for
    metadata-only mega/small routing and return its non-empty data files
    with their bytes, (small, mega); None when the table can't be trusted
    (extract_spans_native then raises).

    Cost discipline (r06, guide §5 "the driver should do almost no data
    work"): the old form opened the whole table with spark.read.parquet —
    a full file listing + schema inference over every data file (~0.25 s
    per query on the sandbox's 390-file corpus) only to filter out the
    ~0.2% mega partition.  Validation reads one data-file footer per
    partition driver-side (pyarrow, ~ms); Spark reads only the mega files
    that are split, with a fixed schema so no inference pass runs.
    `split_threshold` is the caller's: only DEFAULT_SPLIT_THRESHOLD
    is served.  The layout's own classing is not checked, and need not be:
    size_class only routes docs, and a mega doc yields the same spans on
    either route.  `spark` is not used; callers pass it."""
    import glob
    import os

    import pyarrow.parquet as pq

    if not os.path.isdir(os.path.join(path, f"{SIZE_CLASS_COL}=small")):
        return None
    if split_threshold != DEFAULT_SPLIT_THRESHOLD:
        return None
    files = []
    for cls in ("small", "mega"):
        pattern = os.path.join(path, f"{SIZE_CLASS_COL}={cls}", "*.parquet")
        sizes = {f: os.path.getsize(f) for f in glob.glob(pattern)}
        files.append({f: b for f, b in sizes.items() if b > 0})
    # one footer per partition: the native reader reads both (light megas
    # join its bins), and the two may come from different writers (e.g.
    # int32 vs int64 span offsets)
    schemas = [pq.read_schema(min(fs)) for fs in files if fs]
    if not schemas or any(
        "spans" not in s.names or "doc_id" not in s.names for s in schemas
    ):
        return None
    return files[0], files[1]


def extract_spans_native(spark, table_path: str) -> DataFrame:
    """extract_spans over an on-disk size_class-partitioned table, reading
    the small partition's parquet bytes pyarrow-natively inside the workers
    (see module note above).  Output is row-identical to
    extract_spans(spark.read.parquet(table_path)) — pinned by
    test_extract_native.  A table without the trusted layout
    (native_scan_table returns None) raises ValueError: the caller decides
    whether extract_spans over a generic scan is what it wants.

    Mega files are routed by bytes: a mega file no heavier than a
    parallelism slot's share (small + mega file bytes over
    min(defaultParallelism, data files)) joins the LPT bins whole —
    whole-doc extraction IS the reference, and such a file cannot raise
    the wave's lower bound, max(heaviest file, slot share).  Only heavier
    mega files take the split/part-kernel/stitch branch, unioned after the
    kernel wave; write_store repartitions that union as one, so on this
    route the store write waits for the mega chain's stitch shuffle."""
    table = native_scan_table(spark, table_path, DEFAULT_SPLIT_THRESHOLD)
    if table is None:
        raise ValueError(
            f"{table_path} is not a size_class-partitioned span table; "
            "use extract_spans(spark.read.parquet(path)) for a generic scan"
        )

    small, megas = table
    slots = spark.sparkContext.defaultParallelism
    share = (sum(small.values()) + sum(megas.values())) / max(
        1, min(slots, len(small) + len(megas))
    )
    split = sorted(f for f, b in megas.items() if b > share)
    splits = _plan_native_splits(
        {**small, **{f: b for f, b in megas.items() if b <= share}}
    )

    out = None
    if splits:
        # two bins per slot (LPT-packed by bytes; get_spark sets
        # defaultParallelism to the shuffle partition count, max(2 x cores,
        # 8), so 4 bins per core at 4+ cores): balances the fixed cost of a
        # Python task (see _pack_splits_lpt) against straggler overlap (an
        # A/B of fewer bins alone was flat); doc-level cost skew largely
        # averages out at the bin level because each bin holds many
        # hash-bucketed files
        bins = _pack_splits_lpt(splits, n_bins=2 * slots)
        # one bin per partition via spark.range: partitioning is pinned (a
        # repartition() here is a shuffle whose payload is a few hundred
        # bytes, so AQE's partition coalescing would legally collapse it to
        # one task and serialize every read — measured 40 s vs 4 s), and a
        # JVM range source avoids a Python-RDD lineage whose pickle pass
        # is a second Python task per bin (r06, at ~0.3 s per task: 7.3 s
        # vs 4.0 s per 390 no-op tasks)
        bin_df = spark.range(len(bins), numPartitions=len(bins)).selectExpr(
            "CAST(id AS INT) AS bin_idx"
        )
        out = bin_df.mapInArrow(_make_native_reader_fn(bins), schema=SPAN_SCHEMA)
    if split:
        # Size the split megas' exchange by their DATA bytes (the file sizes
        # are the Iceberg-stats analog), not by 4x shuffle.partitions: a
        # cores-proportional partition count turned the branch into hundreds
        # of near-empty Python tasks whose fixed cost GREW with cores (r06,
        # at ~0.3 s per task before qs_spark.pydaemon: 5 s at 8 cores -> 10 s
        # at 32 on ~5 MB of megas; _pack_splits_lpt gives today's per-task
        # cost).  Slices carry payload text, so bytes track kernel work:
        # 1 MB per task, floored at 1 (r06: 1 MB/task measured 0.72 s vs
        # 1.0-2.2 s for 4 MB/task across a 3-trial A/B).
        mega_bytes = sum(megas[f] for f in split)
        num_partitions = 4 * int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        mega_nparts = max(1, min(num_partitions, mega_bytes // (1024 * 1024) + 1))
        mega = spark.read.schema(_SPLIT_READ_SCHEMA).parquet(*split)
        mega_out = _extract_mega(with_fmt(mega), mega_nparts)
        out = mega_out if out is None else out.unionByName(mega_out)
    return out if out is not None else spark.createDataFrame([], SPAN_SCHEMA)
