"""The benchmark's workloads.  Each is a closed loop with one client: the
runner calls `op()` back to back, and every op's output is checked.

Interface (used by run.py):
  generate()          raw inputs from the seed, before the clock starts
  setup(spark)        what the program derives from the inputs (timed)
  op(i) -> result     one timed op
  check(i, result)    untimed: checks the op's output, returns its counts,
                      which must repeat exactly op to op
  final_check()       untimed checks against the reference; list of misses
  traced(spark, tr)   the per-layer phases of the traced run
  docs_per_op         docs one op processes (for docs_per_s)
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import statistics
import sys
import time

from perfbench import gen, probes

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

FORMATS = gen.FORMATS


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_stats(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under path."""
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return len(files), sum(os.path.getsize(f) for f in files)


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def pctl(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))] if xs else 0.0


def timed(fn) -> tuple[float, object]:
    t0 = time.perf_counter()
    r = fn()
    return time.perf_counter() - t0, r


def ref_spans(raw_spans) -> list[tuple]:
    """Serial-reference spans of one doc under (kind, text, media_ref, order)."""
    tools = os.path.join(ROOT, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    from serial_reference import ref_safe_extract_doc

    return [
        (u["kind"], u["text"], u["media_ref"], u["order"])
        for u in ref_safe_extract_doc(gen.records(raw_spans))
    ]


def tree_cpu(spark) -> float:
    """CPU seconds so far of this process, the JVM and its Python workers."""
    return probes.tree_cpu_seconds(spark.sparkContext._gateway.proc.pid)


class Workload:
    name = ""
    docs_per_op = 0
    # warm-up ops before the timed loop: where the measured op walls stop
    # falling (a stop-when-flat rule stopped on plateaus and left runs at
    # different points of the JIT warm-up; see README "Steadiness")
    warmups = 3
    # whether every op's counts must equal the first op's
    repeating = True

    def __init__(self, seed: int, run_dir: str, cache: str, cores: int, scale: float = 1.0):
        self.seed = seed
        self.run_dir = run_dir
        self.cache = cache
        self.cores = cores
        self.scale = scale
        self.spark = None

    def n(self, base: int) -> int:
        return max(8, int(base * self.scale))

    def setup(self, spark) -> None:
        self.spark = spark

    def before_op(self) -> None:
        """Untimed work between ops."""

    def final_check(self) -> list[str]:
        return []

    def traced(self, spark, tr) -> dict:
        return {}


# --------------------------------------------------------------------------
# ingest_mixed: native-scan extract -> build_store -> write_store
# --------------------------------------------------------------------------


class IngestMixed(Workload):
    name = "ingest_mixed"
    BASE_DOCS = 2500

    def generate(self) -> None:
        self.table, self.sample_table = gen.ingest_tables(
            self.cache, self.seed, self.n(self.BASE_DOCS)
        )

    @staticmethod
    def read_docs(table: str) -> list:
        import pyarrow.parquet as pq

        t = pq.read_table(table, columns=["doc_id", "spans"])
        return list(zip(t.column("doc_id").to_pylist(), t.column("spans").to_pylist()))

    def setup(self, spark) -> None:
        from qs_spark.extract import DEFAULT_SPLIT_THRESHOLD, native_scan_table

        super().setup(spark)
        if native_scan_table(spark, self.table, DEFAULT_SPLIT_THRESHOLD) is None:
            raise RuntimeError("extract.native_scan_table refused the input table")
        self.est_bytes = dir_stats(self.table)[1]
        self.docs_per_op = parquet_rows(self.table)
        self.last_store: str | None = None

    def before_op(self) -> None:
        # untimed: drop the previous op's store and drain its writeback
        if self.last_store:
            shutil.rmtree(self.last_store, ignore_errors=True)
        os.sync()

    def op(self, i: int) -> str:
        from qs_spark.extract import extract_spans_native
        from qs_spark.store import build_store, write_store

        out = os.path.join(self.run_dir, f"store_{i}")
        write_store(
            build_store(extract_spans_native(self.spark, self.table)),
            out,
            est_bytes=self.est_bytes,
        )
        self.last_store = out
        return out

    def check(self, i: int, path: str) -> dict:
        import pyarrow.parquet as pq

        t = pq.read_table(path, columns=["document_id"])
        return {
            "store_rows": t.num_rows,
            "store_files": dir_stats(path)[0],
            "store_docs": len(set(t.column("document_id").to_pylist())),
        }

    def final_check(self) -> list[str]:
        """The sample's spans, extracted from the sample table, equal the
        serial reference under (kind, text, media_ref, order); the sample's
        rows in the last op's store equal build_store's projection of the
        reference spans."""
        import pyarrow.parquet as pq

        from qs_spark.extract import extract_spans_native
        from qs_spark.kernels.dispatch import EXT_BY_FMT, fmt_of_spans

        misses = []
        sample = self.read_docs(self.sample_table)
        got: dict[str, list] = {d: [] for d, _ in sample}
        rows = (
            extract_spans_native(self.spark, self.sample_table)
            .select("doc_id", "kind", "text", "media_ref", "order")
            .collect()
        )
        for r in rows:
            got[r.doc_id].append((r.kind, r.text, r.media_ref, r.order))
        want_store = set()
        for did, spans in sample:
            want = ref_spans(spans)
            if sorted(got[did], key=lambda u: u[3]) != want:
                misses.append(f"spans differ from the reference: {did}")
            name = did + EXT_BY_FMT[fmt_of_spans(gen.records(spans))]
            for kind, text, ref, order in want:
                if kind == "error":
                    continue
                f2 = f"File Name : {name}\n\n\n{text}".lower().replace("\n", " ")
                want_store.add((f"{did}#{order}", order + 1, kind, f2, ref))
        t = pq.read_table(self.last_store).to_pylist()
        have_store = {
            (r["row_id"], r["page_no"], r["kind"], r["text"], r["media_ref"])
            for r in t
            if r["document_id"] in got
        }
        if have_store != want_store:
            misses.append(
                f"store rows of the sample differ: {len(have_store ^ want_store)} rows"
            )
        return misses

    def traced(self, spark, tr) -> dict:
        from qs_spark.extract import extract_spans_native
        from qs_spark.store import build_store, write_store

        m: dict = {}
        m.update(kernel_probe(self.read_docs(self.table), self.seed))
        sc = spark.sparkContext
        sc.setJobGroup("phase.scan_noop", "scan noop")
        with tr.span("phase.scan_noop"):
            m["extract.scan_noop_s"], _ = timed(lambda: noop(spark.read.parquet(self.table)))
        sc.setJobGroup("phase.exec_noop", "extract noop")
        c0 = tree_cpu(spark)
        with tr.span("phase.exec_noop"):
            spans = extract_spans_native(spark, self.table)
            m["extract.exec_noop_s"], _ = timed(lambda: noop(spans))
        m["extract.busy_frac"] = (tree_cpu(spark) - c0) / (
            m["extract.exec_noop_s"] * self.cores
        )
        from perfbench.trace import group_counts

        m["extract.tasks"] = group_counts(sc, "phase.exec_noop")[2]
        m["extract.plan_s"] = statistics.median(tr.durations("extract.extract_spans_native"))
        sc.setJobGroup("phase.build_noop", "store build noop")
        with tr.span("phase.build_noop"):
            store = build_store(extract_spans_native(spark, self.table))
            m["store.build_noop_s"], _ = timed(lambda: noop(store))
        m["store.plan_s"] = statistics.median(tr.durations("store.build_store"))
        out = os.path.join(self.run_dir, "store_traced")
        os.sync()
        sc.setJobGroup("phase.write", "store write")
        with tr.span("phase.write"):
            store = build_store(extract_spans_native(spark, self.table))
            m["store.write_s"], _ = timed(
                lambda: write_store(store, out, est_bytes=self.est_bytes)
            )
        m["store.files"], m["store.bytes"] = dir_stats(out)
        m["store.rows"] = parquet_rows(out)
        # the native path's layers, summed, against one op's wall
        m["trace.phase_sum_s"] = (
            m["extract.plan_s"] + m["store.plan_s"] + m["store.write_s"]
        )
        m["extract.docs_per_s"] = self.docs_per_op / m["extract.exec_noop_s"]
        # the read side of the store this workload wrote, and the
        # checkpointed path, so every layer is measured in the listed runs
        # the read side of the store this op wrote (search_mix is not in
        # BENCHMARK.json; see README "Time budget")
        m.update(SearchMix.probe(spark, tr, out, self.seed, self.run_dir, n_queries=3))
        return m


def kernel_probe(docs, seed: int, n: int = 400) -> dict:
    """Single-thread kernel CPU by format over a seeded sample of the
    workload's own docs (dispatch.safe_extract_doc, as the workers call it)."""
    from qs_spark.kernels.dispatch import fmt_of_spans, safe_extract_doc

    rng = random.Random(f"kernels:{seed}")
    pick = rng.sample(docs, min(n, len(docs)))
    m = {f"kernels.{f}.cpu_s": 0.0 for f in FORMATS}
    m.update({f"kernels.{f}.docs": 0 for f in FORMATS})
    m["kernels.error_docs"] = 0
    for _, spans in pick:
        recs = gen.records(spans)
        fmt = fmt_of_spans(recs)
        t0 = time.process_time()
        units = safe_extract_doc(recs, fmt)
        m[f"kernels.{fmt}.cpu_s"] += time.process_time() - t0
        m[f"kernels.{fmt}.docs"] += 1
        m["kernels.error_docs"] += any(u["kind"] == "error" for u in units)
    return m


# --------------------------------------------------------------------------
# search_mix: search_rank over the store ingest writes, scan and postings
# --------------------------------------------------------------------------


class SearchMix(Workload):
    name = "search_mix"
    BASE_DOCS = 2000
    repeating = False  # each op runs a different query
    SCAN_EVERY = 3  # every third query takes the scan path
    CHECK_EVERY = 5  # every fifth query is also run on the other path

    def generate(self) -> None:
        self.table, _ = gen.ingest_tables(self.cache, self.seed, self.n(self.BASE_DOCS))

    def setup(self, spark) -> None:
        from qs_spark import search as S
        from qs_spark.extract import extract_spans_native
        from qs_spark.store import build_store, write_store

        super().setup(spark)
        self.store_path = os.path.join(self.run_dir, "store")
        self.postings = os.path.join(self.run_dir, "postings")
        write_store(build_store(extract_spans_native(spark, self.table)), self.store_path)
        self.store = spark.read.parquet(self.store_path)
        S.write_postings(self.store, self.postings)
        self.docs_per_op = parquet_rows(self.table)
        self.queries = self.make_queries(self.store_path, self.seed, 400)

    @staticmethod
    def make_queries(store_path: str, seed: int, n: int) -> list[str]:
        import pyarrow.parquet as pq

        from qs_spark.kernels.detstr import VOCAB

        names = pq.read_table(store_path, columns=["document_id"]).column("document_id")
        rng = random.Random(f"rare:{seed}")
        docs = sorted(set(names.to_pylist()))
        rare = rng.sample(docs, min(50, len(docs))) + [f"zq{k}x" for k in range(50)]
        return gen.query_stream(seed, list(VOCAB), rare, n)

    def path_of(self, i: int) -> str | None:
        return None if i % self.SCAN_EVERY == 0 else self.postings

    def op(self, i: int) -> list:
        from qs_spark import search as S
        from qs_spark.cachereg import release_caches

        q = self.queries[i % len(self.queries)]
        rows = S.search_rank(self.store, q, postings_path=self.path_of(i)).collect()
        release_caches()
        return rows

    def check(self, i: int, rows: list) -> dict:
        from qs_spark import search as S
        from qs_spark.cachereg import release_caches

        if i % self.CHECK_EVERY == 0:
            q = self.queries[i % len(self.queries)]
            other = None if self.path_of(i) else self.postings
            again = S.search_rank(self.store, q, postings_path=other).collect()
            release_caches()
            if again != rows:
                raise AssertionError(f"scan and postings paths differ for {q!r}")
        # per-query counts differ by design; the op's count is its query's
        # hit count, which repeats for the same query in every run
        return {"query_index": i, "rows": len(rows)}

    @staticmethod
    def probe(spark, tr, store_path: str, seed: int, run_dir: str, n_queries: int) -> dict:
        """search.* layer metrics over an existing store."""
        from qs_spark import search as S
        from qs_spark.cachereg import release_caches

        m: dict = {}
        store = spark.read.parquet(store_path)
        postings = os.path.join(run_dir, "postings_traced")
        with tr.span("phase.write_postings"):
            m["search.write_postings_s"], _ = timed(lambda: S.write_postings(store, postings))
        m["search.postings_bytes"] = dir_stats(postings)[1]
        qs = SearchMix.make_queries(store_path, seed, 2 * n_queries)
        idx, scan, nrows = [], [], []
        for k, q in enumerate(qs):
            path = postings if k % 2 else None
            with tr.span("phase.search_idx" if path else "phase.search_scan"):
                dt, rows = timed(lambda: S.search_rank(store, q, postings_path=path).collect())
            release_caches()
            (idx if path else scan).append(dt)
            nrows.append(len(rows))
        m["search.idx_p50_s"] = statistics.median(idx)
        m["search.idx_p90_s"] = pctl(idx, 0.9)
        m["search.scan_p50_s"] = statistics.median(scan)
        m["search.scan_p90_s"] = pctl(scan, 0.9)
        m["search.plan_s"] = statistics.median(tr.durations("search.search_rank"))
        m["search.lookup_postings_s"] = statistics.median(
            tr.durations("search.lookup_postings") or [0.0]
        )
        m["search.rows_per_query"] = statistics.mean(nrows)
        return m

    def traced(self, spark, tr) -> dict:
        return self.probe(spark, tr, self.store_path, self.seed + 1, self.run_dir, 6)


# --------------------------------------------------------------------------
# dedup_near: sketches -> LSH banding -> Jaccard verify -> components
# --------------------------------------------------------------------------


class DedupNear(Workload):
    name = "dedup_near"
    warmups = 3
    BASE_DOCS = 7000
    # 88-97% of the family shares the template's bucket in each band
    # (measured over seeds 1-8: the smallest was 5428), far above
    # LSH_MAX_BUCKET (4096); a bucket just under the cap would be expanded
    # quadratically by the self-join
    FAMILY = 6000

    def generate(self) -> None:
        # below full scale the family stays far under the LSH cap: a family
        # just under the cap is a quadratic pair explosion
        fam = self.FAMILY if self.scale >= 1 else min(50, self.n(self.FAMILY))
        self.size = (self.n(self.BASE_DOCS), fam)
        self.table = gen.dedup_table(self.cache, self.seed, *self.size)

    def setup(self, spark) -> None:
        super().setup(spark)
        self.docs = spark.read.parquet(self.table)
        self.docs_per_op = parquet_rows(self.table)

    def op(self, i: int) -> list:
        from qs_spark import textops as X
        from qs_spark.cachereg import release_caches

        reps = (
            X.near_dup_clusters(self.docs)
            .filter("is_representative")
            .select("doc_id")
            .collect()
        )
        release_caches()
        return reps

    def check(self, i: int, reps: list) -> dict:
        # exact copies carry "_x" in their id and extend their source's id,
        # so none of them may represent its cluster
        kept = [r.doc_id for r in reps if "_x" in r.doc_id]
        if kept:
            raise AssertionError(f"{len(kept)} exact copies kept as representatives")
        return {"survivors": len(reps)}

    def traced(self, spark, tr) -> dict:
        from qs_spark import textops as X
        from qs_spark.cachereg import release_caches

        m: dict = {}
        sc = spark.sparkContext
        # the pair phases end in a count, which still runs every operator
        # (the kernels decide which rows exist) and yields the pair counts
        phases = (
            ("textops.doc_sketches_s", None, lambda: noop(X.doc_sketches(self.docs))),
            (
                "textops.lsh_candidate_pairs_s",
                "textops.candidate_pairs",
                lambda: X.lsh_candidate_pairs(self.docs).count(),
            ),
            (
                "textops.ngram_jaccard_pairs_s",
                "textops.verified_pairs",
                lambda: X.ngram_jaccard_pairs(self.docs).filter("jaccard >= 0.8").count(),
            ),
        )
        for key, count_key, action in phases:
            sc.setJobGroup(f"phase.{key}", key)
            with tr.span(f"phase.{key}"):
                m[key], n = timed(action)
            release_caches()
            if count_key:
                m[count_key] = n
        m["textops.ngram_jaccard_pairs.call_s"] = statistics.median(
            tr.durations("textops.ngram_jaccard_pairs")
        )
        c0 = tree_cpu(spark)
        sc.setJobGroup("phase.near_dup_clusters", "near dup clusters")
        with tr.span("phase.near_dup_clusters"):
            dt, n = timed(
                lambda: X.near_dup_clusters(self.docs).filter("is_representative").count()
            )
        m["textops.busy_frac"] = (tree_cpu(spark) - c0) / (dt * self.cores)
        m["textops.survivors"] = n
        m["textops.near_dup_clusters.call_s"] = statistics.median(
            tr.durations("textops.near_dup_clusters")
        )
        m["textops.connected_components_s"] = statistics.median(
            tr.durations("textops.connected_components")
        )
        with tr.span("phase.release"):
            m["cachereg.release_s"], m["cachereg.released"] = timed(release_caches)
        # the checkpointed path (ingest_resume is not in BENCHMARK.json; see
        # README "Time budget"), over the ingest generator's reference-sample
        # table for this seed: a wave's cost is mostly per-wave overhead, and
        # this run has the time the ingest_mixed traced run does not
        _, sample = gen.ingest_tables(self.cache, self.seed, IngestMixed.BASE_DOCS)
        m.update(IngestResume.probe(spark, tr, sample, self.run_dir))
        return m


# --------------------------------------------------------------------------
# ingest_resume: checkpointed extract that crashes after a wave, then resumes
# --------------------------------------------------------------------------


class IngestResume(Workload):
    name = "ingest_resume"
    BASE_DOCS = 1000
    N_BUCKETS = 4
    PER_WAVE = 2

    def generate(self) -> None:
        self.table, _ = gen.ingest_tables(self.cache, self.seed, self.n(self.BASE_DOCS))

    def setup(self, spark) -> None:
        super().setup(spark)
        self.docs = self.input_docs(spark, self.table)
        self.docs_per_op = parquet_rows(self.table)
        self.expected = self.one_shot(self.docs)

    @staticmethod
    def input_docs(spark, table: str):
        return spark.read.parquet(table).drop("size_class")

    @staticmethod
    def span_rows(df) -> list[tuple]:
        return sorted(
            tuple(r)
            for r in df.select("doc_id", "order", "kind", "text", "media_ref", "fmt").collect()
        )

    @classmethod
    def one_shot(cls, docs) -> list[tuple]:
        from qs_spark.extract import extract_spans

        return cls.span_rows(extract_spans(docs))

    @classmethod
    def crash_and_resume(cls, spark, docs, root: str, tag: str):
        from qs_spark.catalog import ParquetCatalog
        from qs_spark.checkpoint import run_extract_checkpointed

        shutil.rmtree(root, ignore_errors=True)
        cat = ParquetCatalog(root)
        kw = dict(n_buckets=cls.N_BUCKETS, buckets_per_wave=cls.PER_WAVE)
        try:
            run_extract_checkpointed(spark, docs, cat, f"{tag}a", fail_after_waves=1, **kw)
            raise AssertionError("the injected failure did not fire")
        except RuntimeError as e:
            if "injected failure" not in str(e):
                raise
        return cat, run_extract_checkpointed(spark, docs, cat, f"{tag}b", **kw)

    def before_op(self) -> None:
        os.sync()

    def op(self, i: int):
        return self.crash_and_resume(
            self.spark, self.docs, os.path.join(self.run_dir, "catalog"), f"r{i}"
        )

    def check(self, i: int, result) -> dict:
        cat, spans = result
        misses = self.catalog_misses(cat, spans, self.expected, self.docs_per_op)
        if misses:
            raise AssertionError("; ".join(misses))
        return {"spans": len(self.expected), "waves": self.N_BUCKETS // self.PER_WAVE}

    @classmethod
    def catalog_misses(cls, cat, spans, expected: list, n_docs: int) -> list[str]:
        from qs_spark.checkpoint import CKPT_TABLE

        misses = []
        if cls.span_rows(spans) != expected:
            misses.append("resumed spans differ from a one-shot extract_spans")
        ck = cat.read(spans.sparkSession, CKPT_TABLE).collect()
        buckets = sorted(r.bucket for r in ck if r.status == "committed")
        if buckets != list(range(cls.N_BUCKETS)):
            misses.append(f"committed buckets {buckets}")
        docs = sum(r.doc_count for r in ck)
        if docs != n_docs:
            misses.append(f"checkpoint doc_count sums to {docs}, input has {n_docs}")
        return misses

    @classmethod
    def probe(cls, spark, tr, table: str, run_dir: str) -> dict:
        """checkpoint.* / catalog.* metrics: one crash-and-resume pair, its
        lineage timings, and the generic JVM-scan extract over one wave."""
        from qs_spark.checkpoint import CKPT_TABLE, bucket_col, committed_buckets
        from qs_spark.extract import extract_spans

        m: dict = {}
        docs = cls.input_docs(spark, table)
        with tr.span("phase.resume"):
            cat, _ = cls.crash_and_resume(spark, docs, os.path.join(run_dir, "ckpt_traced"), "t")
        ck = sorted(
            (r.t_start, r.t_end) for r in cat.read(spark, CKPT_TABLE).collect()
        )
        waves = sorted(set(ck))
        m["checkpoint.waves"] = len(waves)
        m["checkpoint.wave_s"] = statistics.median(e - s for s, e in waves)
        gaps = [b[0] - a[1] for a, b in zip(waves, waves[1:])]
        m["checkpoint.commit_s"] = statistics.median(gaps) if gaps else 0.0
        with tr.span("phase.committed_buckets"):
            committed_buckets(spark, cat)
        m["checkpoint.committed_buckets_s"] = statistics.median(
            tr.durations("checkpoint.committed_buckets")
        )
        # each wave's partition overwrite, timed where the resume called it
        m["catalog.overwrite_partitions_s"] = statistics.median(
            tr.durations("catalog.overwrite_partitions")
        )
        wave = docs.filter(bucket_col(cls.N_BUCKETS).isin(list(range(cls.PER_WAVE))))
        with tr.span("phase.generic_noop"):
            m["extract.generic_noop_s"], _ = timed(lambda: noop(extract_spans(wave)))
        return m

    def traced(self, spark, tr) -> dict:
        return self.probe(spark, tr, self.table, self.run_dir)


WORKLOADS = {w.name: w for w in (IngestMixed, SearchMix, DedupNear, IngestResume)}
