"""Seeded input generators.  They run before the benchmark clock starts and
write only raw inputs; nothing the program derives from them is produced here.

Every generator is a pure function of (seed, size): the same arguments give
byte-identical tables.  Outputs are cached under the run's cache dir keyed by
(workload, seed, size, GEN_VERSION).
"""

from __future__ import annotations

import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

# bump whenever any generator's output changes (keys the input cache)
GEN_VERSION = 2

SPAN_TYPE = pa.list_(
    pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )
)
CORPUS_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", SPAN_TYPE)])
DOCS_SCHEMA = pa.schema([("doc_id", pa.string()), ("text", pa.string())])

# the gen_doc index space a window is drawn from
INDEX_SPACE = 1_000_000
HOSTILE_EVERY = 100  # ~1% hostile docs
HOSTILE_SHAPES = (
    "null_spans",
    "empty_spans",
    "null_fields",
    "unknown_kind",
    "bad_csv",
    "broken_html",
)


def _cached(path: str, build) -> str:
    """Build `path` via build(tmp_dir) unless a complete copy exists."""
    done = os.path.join(path, "_GEN_DONE")
    if os.path.isfile(done):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_GEN_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path


# per gen_doc doc: 2/1000 mega PDFs (corpus.MEGA_EVERY), and 2000-row
# sheets in 1/40 of the sheets of xlsx (12% of docs, 1-3 sheets) and csv
# (8%, one sheet).  These few docs carry most of a window's spans and text.
MEGA_RATE = 2 / 1000
BIG_SHEET_RATE = 0.12 * 2 / 40 + 0.08 / 40


def heavy_docs(idx: int) -> tuple[int, int]:
    """(mega docs, 2000-row sheets) of gen_doc(idx), from the same md5 keys
    corpus.gen_doc draws them with, without generating the doc."""
    from qs_spark.corpus import MEGA_EVERY, doc_id_of, fmt_of
    from qs_spark.kernels.detstr import md5_int

    did = doc_id_of(idx)
    fmt = fmt_of(idx)
    mega = int(md5_int(did, "mega") % MEGA_EVERY == 0)
    if fmt not in ("xlsx", "csv"):
        return mega, 0
    n_sheets = 1 if fmt == "csv" else 1 + md5_int(did, "ns") % 3
    return mega, sum(md5_int(did, "bigsheet", s) % 40 == 0 for s in range(n_sheets))


def window_offset(seed: int, n_docs: int) -> int:
    """The seed's window: slide from a seeded offset to the first window
    that holds exactly the expected number of mega docs and big sheets.
    Windows then differ in which docs they hold, not in how much work they
    carry (free windows of 2500 docs held 1-9 megas and 15-27 big sheets,
    and op core-seconds varied by half)."""
    rng = random.Random(f"window:{seed}")
    want = [round(n_docs * MEGA_RATE), round(n_docs * BIG_SHEET_RATE)]
    while True:
        off = rng.randrange(INDEX_SPACE // 2)
        have = [0, 0]
        for i in range(off, off + n_docs):
            have = [a + b for a, b in zip(have, heavy_docs(i))]
        # a short slide, then a fresh offset: distinct seeds rarely meet
        # at the same window
        for _ in range(max(1, n_docs // 10)):
            if have == want:
                return off
            out, inn = heavy_docs(off), heavy_docs(off + n_docs)
            have = [h - o + n for h, o, n in zip(have, out, inn)]
            off += 1


def hostile_doc(seed: int, k: int) -> tuple[str, list | None]:
    """The shapes tests/test_hostile_inputs.py feeds the extractor, with
    seeded text."""
    from qs_spark.kernels.detstr import sentence

    did = f"hostile{seed:06d}_{k:05d}"
    shape = HOSTILE_SHAPES[k % len(HOSTILE_SHAPES)]
    text = sentence((did, "h"), 8)
    if shape == "null_spans":
        return did, None
    if shape == "empty_spans":
        return did, []
    if shape == "null_fields":
        return did, [{"kind": None, "text": None, "media_ref": None, "offset": None}]
    if shape == "unknown_kind":
        return did, [
            {"kind": "weird", "text": text, "media_ref": "", "offset": 0},
            {"kind": "md", "text": text, "media_ref": "", "offset": 1},
        ]
    if shape == "bad_csv":
        return did, [{"kind": "csv_rows", "text": ",,\n", "media_ref": "", "offset": 0}]
    html = f"<body><p>{text} <div>nested <p>second</body "
    return did, [{"kind": "html", "text": html, "media_ref": "", "offset": 0}]


def _gen_range(bounds: tuple[int, int]) -> list:
    from qs_spark.corpus import gen_doc

    return [gen_doc(i) for i in range(*bounds)]


def ingest_docs(seed: int, n_docs: int) -> list[tuple[str, list | None]]:
    """A seeded window of corpus.gen_doc indices plus ~1% hostile docs."""
    import multiprocessing as mp

    off = window_offset(seed, n_docs)
    procs = min(4, len(os.sched_getaffinity(0)))
    step = -(-n_docs // procs)
    chunks = [(off + a, off + min(a + step, n_docs)) for a in range(0, n_docs, step)]
    with mp.get_context("spawn").Pool(procs) as pool:
        docs = [d for part in pool.map(_gen_range, chunks) for d in part]
    docs += [hostile_doc(seed, k) for k in range(max(1, n_docs // HOSTILE_EVERY))]
    return docs


def records(spans: list | None) -> list[dict]:
    """Raw spans as the extractor sees them: a null spans array or element
    is absent, null fields read '' / 0 (extract._docs_from_arrow)."""
    return [
        {
            "kind": s["kind"] or "",
            "text": s["text"] or "",
            "media_ref": s["media_ref"] or "",
            "offset": s["offset"] or 0,
        }
        for s in spans or []
        if s is not None
    ]


def size_class(spans: list | None) -> str:
    """Python mirror of extract.with_size_class (the table's partition column)."""
    from qs_spark.extract import DEFAULT_SPLIT_THRESHOLD
    from qs_spark.kernels.dispatch import SPLITTABLE_FMTS, fmt_of_spans

    fmt = fmt_of_spans(records(spans))
    big = len(spans or []) > DEFAULT_SPLIT_THRESHOLD
    return "mega" if fmt in SPLITTABLE_FMTS and big else "small"


def write_corpus_table(docs, path: str) -> None:
    """Write docs in corpus.corpus_parquet's layout: `size_class` partition
    dirs, each holding xxhash64(doc_id) bucket files."""
    from qs_spark.search import _xxh64

    n_small = max(8, min(512, len(docs) // 256))
    n_buckets = {"small": n_small, "mega": max(4, n_small // 64)}
    files: dict[tuple[str, int], list] = {}
    for did, spans in docs:
        cls = size_class(spans)
        b = _xxh64(did.encode("utf-8")) % n_buckets[cls]
        files.setdefault((cls, b), []).append((did, spans))
    for (cls, b), rows in sorted(files.items()):
        d = os.path.join(path, f"size_class={cls}")
        os.makedirs(d, exist_ok=True)
        tbl = pa.table(
            {"doc_id": [r[0] for r in rows], "spans": [r[1] for r in rows]},
            schema=CORPUS_SCHEMA,
        )
        pq.write_table(tbl, os.path.join(d, f"part-{b:05d}.parquet"), compression="zstd")


FORMATS = ("html", "pdf", "docx", "xlsx", "csv", "txt", "md")
# the serial reference's sheet chunker is quadratic in rows (a 68 KB sheet
# takes ~37 s), so reference-checked sheet docs are drawn below this size
REF_SHEET_MAX_CHARS = 8_000
SAMPLE_PER_FORMAT = 6


def reference_sample(docs, seed: int) -> list:
    """Seeded reference sample: docs of every format, every mega doc and
    every hostile doc."""
    from qs_spark.kernels.dispatch import fmt_of_spans

    rng = random.Random(f"sample:{seed}")
    by_fmt: dict[str, list] = {}
    picked = []
    for did, spans in docs:
        if did.startswith("hostile") or len(spans) > 64:
            picked.append((did, spans))
            continue
        fmt = fmt_of_spans(spans)
        size = sum(len(s["text"]) for s in spans)
        if fmt in ("xlsx", "csv") and size > REF_SHEET_MAX_CHARS:
            continue
        by_fmt.setdefault(fmt, []).append((did, spans))
    for fmt in FORMATS:
        pool = by_fmt.get(fmt, [])
        picked += rng.sample(pool, min(SAMPLE_PER_FORMAT, len(pool)))
    return picked


def ingest_tables(cache: str, seed: int, n_docs: int) -> tuple[str, str]:
    """(input table, reference-sample table), both in the corpus layout."""
    path = os.path.join(cache, f"ingest_s{seed}_n{n_docs}_v{GEN_VERSION}")

    def build(tmp: str) -> None:
        docs = ingest_docs(seed, n_docs)
        write_corpus_table(docs, os.path.join(tmp, "input"))
        write_corpus_table(reference_sample(docs, seed), os.path.join(tmp, "sample"))

    _cached(path, build)
    return os.path.join(path, "input"), os.path.join(path, "sample")


# -- dedup ------------------------------------------------------------------

EXACT_FRAC = 0.10
NEAR_FRAC = 0.15


def dedup_rows(seed: int, n_docs: int, family: int) -> list[tuple[str, str]]:
    """(doc_id, text) rows.  Independent docs of 10-120 detstr words, a
    share of exact copies and one-word near copies, and one template family
    of `family` one-word variants (sized so that its band buckets exceed
    textops.LSH_MAX_BUCKET and the capped hot-bucket path runs)."""
    from qs_spark.kernels.detstr import VOCAB

    rng = random.Random(f"dedup:{seed}")
    n_base = n_docs - family
    n_exact = int(n_base * EXACT_FRAC)
    n_near = int(n_base * NEAR_FRAC)
    n_orig = n_base - n_exact - n_near
    rows: list[tuple[str, str]] = []
    for i in range(n_orig):
        words = [rng.choice(VOCAB) for _ in range(rng.randint(10, 120))]
        rows.append((f"d{i:07d}", " ".join(words)))
    copies = []
    for k in range(n_exact):
        src_id, src = rows[rng.randrange(n_orig)]
        # the copy's id extends its source's, so the source (smaller id) is
        # the representative of their exact-duplicate cluster
        copies.append((f"{src_id}_x{k:06d}", src))
    for k in range(n_near):
        src_id, src = rows[rng.randrange(n_orig)]
        words = src.split()
        words[rng.randrange(len(words))] = rng.choice(VOCAB) + "q"
        copies.append((f"{src_id}_n{k:06d}", " ".join(words)))
    # each family member is the template plus one distinct trailing word, so
    # ~96% of members share the template's bucket in every band (a
    # replaced word would leave ~78% there: buckets just under the cap,
    # which the self-join expands quadratically)
    template = " ".join(rng.choice(VOCAB) for _ in range(100))
    for k in range(family):
        copies.append((f"f{k:07d}", f"{template} {rng.choice(VOCAB)}{k}"))
    rows += copies
    rng.shuffle(rows)
    return rows


def dedup_table(cache: str, seed: int, n_docs: int, family: int) -> str:
    """A (doc_id, text) table in the documents.parquet schema."""
    path = os.path.join(cache, f"dedup_s{seed}_n{n_docs}_f{family}_v{GEN_VERSION}")

    def build(tmp: str) -> None:
        rows = dedup_rows(seed, n_docs, family)
        tbl = pa.table(
            {"doc_id": [r[0] for r in rows], "text": [r[1] for r in rows]},
            schema=DOCS_SCHEMA,
        )
        n_files = 8
        step = -(-len(rows) // n_files)
        for f in range(n_files):
            pq.write_table(
                tbl.slice(f * step, step),
                os.path.join(tmp, f"part-{f:05d}.parquet"),
                compression="zstd",
            )

    return _cached(path, build)


# -- search -----------------------------------------------------------------

def query_stream(seed: int, common: list[str], rare: list[str], n: int) -> list[str]:
    """n distinct queries of 1-3 terms: a fixed mix of common terms (in most
    store rows) and rare terms (doc-name tokens and words absent from the
    store).  No query text repeats within a stream."""
    rng = random.Random(f"queries:{seed}")
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        k = rng.randint(1, 3)
        terms = [
            rng.choice(common) if rng.random() < 0.6 else rng.choice(rare)
            for _ in range(k)
        ]
        q = " ".join(terms)
        if q not in seen:
            seen.add(q)
            out.append(q)
    return out
