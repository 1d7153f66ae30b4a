"""Supplementary benchmarks for the optimization round (bench.py is FROZEN
for measurement; this file carries the guide-§1 isolation runs: noop-sink
timings per pipeline phase, plan captures, and steal recording).

Usage:
  python bench_extra.py extract_phases     # decompose the extract query
  python bench_extra.py dedup_phases       # decompose dedup_lsh/cluster
  python bench_extra.py search_phases      # decompose search / search_idx
  python bench_extra.py plans              # dump .explain("formatted") files

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
Each phase is timed with the noop sink (computes every column, discards) so
the numbers isolate computation from the sink, per the optimization guide
§1.4; real-sink variants are labeled "+write".
"""

from __future__ import annotations

import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _steal():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def timed(label, fn, out):
    s0, t0 = _steal()
    w0 = time.time()
    r = fn()
    dt = round(time.time() - w0, 3)
    s1, t1 = _steal()
    st = round(100.0 * (s1 - s0) / max(t1 - t0, 1), 2)
    out[label] = {"sec": dt, "steal_pct": st}
    print(f"  {label:<38} {dt:>8.3f}s  steal={st}%", flush=True)
    return r


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def extract_phases():
    from qs_spark.corpus import corpus_df, corpus_parquet
    from qs_spark.extract import extract_spans, extract_spans_native
    from qs_spark.session import get_spark, tune_scan_split
    from qs_spark.store import build_store, write_store

    spark = get_spark("bx_extract", cores=CPUS)
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count() * 20
    input_df = corpus_parquet(spark, n_docs)
    table_path = input_df.inputFiles()[0].split("/size_class=")[0]
    table_path = table_path[7:] if table_path.startswith("file://") else table_path
    tune_scan_split(spark, input_df)
    extract_spans(corpus_df(spark, 512)).count()  # warmup
    est = sum(
        os.path.getsize(f[7:] if f.startswith("file://") else f)
        for f in input_df.inputFiles()
    )
    out: dict = {"n_docs": n_docs}
    sc = spark.sparkContext
    sc.setJobDescription("bx: raw scan noop")
    timed("scan_only_noop", lambda: noop(input_df), out)
    sc.setJobDescription("bx: extract noop")
    timed(
        "extract_noop",
        lambda: noop(extract_spans_native(spark, table_path)),
        out,
    )
    sc.setJobDescription("bx: extract+store noop")
    timed(
        "extract_store_noop",
        lambda: noop(build_store(extract_spans_native(spark, table_path))),
        out,
    )
    sc.setJobDescription("bx: extract+store+write")
    timed(
        "extract_store_write",
        lambda: write_store(
            build_store(extract_spans_native(spark, table_path)),
            "/tmp/qs_bx_store",
            est_bytes=est,
        ),
        out,
    )
    store_bytes = sum(
        os.path.getsize(os.path.join("/tmp/qs_bx_store", f))
        for f in os.listdir("/tmp/qs_bx_store")
        if f.endswith(".parquet")
    )
    out["store_bytes"] = store_bytes
    out["store_files"] = len(
        [f for f in os.listdir("/tmp/qs_bx_store") if f.endswith(".parquet")]
    )
    print(json.dumps(out))
    spark.stop()


def dedup_phases():
    from pyspark.sql import functions as F

    from qs_spark import textops as X
    from qs_spark.cachereg import release_caches
    from qs_spark.session import get_spark

    spark = get_spark("bx_dedup", cores=CPUS)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # warmup with same-shape tiny table (mirrors bench.py)
    wpath = "/tmp/qs_bench_dedup_warmup.parquet"
    if not os.path.isfile(os.path.join(wpath, "_SUCCESS")):
        docs.limit(64).coalesce(1).write.mode("overwrite").parquet(wpath)
    wdocs = spark.read.parquet(wpath)
    X.near_dup_clusters(wdocs).count()
    release_caches()
    out: dict = {}
    sc = spark.sparkContext

    sc.setJobDescription("bx: doc_sketches")
    timed("doc_sketches_noop", lambda: noop(X.doc_sketches(docs)), out)
    release_caches()
    sc.setJobDescription("bx: lsh_candidate_pairs")
    timed("lsh_pairs_count", lambda: X.lsh_candidate_pairs(docs).count(), out)
    release_caches()
    sc.setJobDescription("bx: ngram_jaccard")
    timed("jaccard_count", lambda: X.ngram_jaccard_pairs(docs).count(), out)
    release_caches()
    sc.setJobDescription("bx: near_dup_clusters")
    timed(
        "cluster_survivors",
        lambda: X.near_dup_clusters(docs)
        .filter("is_representative")
        .count(),
        out,
    )
    release_caches()
    print(json.dumps(out))
    spark.stop()


def search_phases():
    from qs_spark import search as S
    from qs_spark.cachereg import release_caches
    from qs_spark.session import get_spark

    spark = get_spark("bx_search", cores=CPUS)
    store = spark.read.parquet("/tmp/qs_bench_store")
    S.search_rank(store, "batch window").collect()  # warmup (different terms)
    release_caches()
    out: dict = {}
    sc = spark.sparkContext
    sc.setJobDescription("bx: search scan")
    timed(
        "search_scan",
        lambda: S.search_rank(store, "spark join window").collect(),
        out,
    )
    release_caches()
    if os.path.isdir("/tmp/qs_bench_postings"):
        S.search_rank(
            store, "spark join window", postings_path="/tmp/qs_bench_postings"
        ).limit(1).collect()
        sc.setJobDescription("bx: search idx")
        timed(
            "search_idx",
            lambda: S.search_rank(
                store, "spark join window", postings_path="/tmp/qs_bench_postings"
            ).collect(),
            out,
        )
    print(json.dumps(out))
    spark.stop()


def plans(tag: str):
    """Dump .explain('formatted') for the headline query paths to
    plans/r06/<name>_<tag>.txt (tag: 'before' / 'after')."""
    from qs_spark import search as S
    from qs_spark import textops as X
    from qs_spark.corpus import corpus_parquet
    from qs_spark.extract import extract_spans_native
    from qs_spark.session import get_spark
    from qs_spark.store import build_store

    spark = get_spark("bx_plans", cores=8, shuffle_partitions=16)
    os.makedirs("plans/r06", exist_ok=True)

    def dump(name, df):
        p = f"plans/r06/{name}_{tag}.txt"
        with open(p, "w") as f:
            f.write(df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted")))
        print("wrote", p)

    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count() * 20
    input_df = corpus_parquet(spark, n_docs)
    tp = input_df.inputFiles()[0].split("/size_class=")[0].replace("file://", "")
    dump("extract_store", build_store(extract_spans_native(spark, tp)))
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    dump("dedup_lsh", X.lsh_candidate_pairs(docs))
    dump("dedup_cluster", X.near_dup_clusters(docs))
    if os.path.isdir("/tmp/qs_bench_store"):
        store = spark.read.parquet("/tmp/qs_bench_store")
        dump("search_scan", S.search_rank(store, "spark join window"))
        if os.path.isdir("/tmp/qs_bench_postings"):
            dump(
                "search_idx",
                S.search_rank(
                    store, "spark join window",
                    postings_path="/tmp/qs_bench_postings",
                ),
            )
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    from pyspark.sql import functions as F
    qvec = [float(x) for x in emb.first().embedding]
    emb_d = emb.withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    dump("ann_topk", X.ann_bruteforce(emb_d, qvec, k=10))
    spark.stop()


if __name__ == "__main__":
    {
        "extract_phases": extract_phases,
        "dedup_phases": dedup_phases,
        "search_phases": search_phases,
        "plans": lambda: plans(sys.argv[2] if len(sys.argv) > 2 else "before"),
    }[sys.argv[1]]()
