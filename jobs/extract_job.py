"""spark-submit entry point for the checkpointed extraction job.

Cluster usage (north rule: ship via --py-files to a multi-executor cluster,
run at N and 4N executors):

    cd <repo> && zip -r /tmp/qs_spark.zip qs_spark
    spark-submit --py-files /tmp/qs_spark.zip \\
        --conf spark.sql.adaptive.enabled=true \\
        --conf spark.sql.execution.arrow.pyspark.enabled=true \\
        --num-executors $N --executor-cores 4 \\
        jobs/extract_job.py \\
        --input  <parquet path | table:lake.qs.documents> \\
        --output <warehouse dir | iceberg://lake/qs> \\
        --run-id r-$(date +%s) [--n-buckets 256]

With --output iceberg://<catalog>/<namespace> the spans + checkpoint
tables are managed through IcebergCatalog (MERGE INTO lineage, DELETE FROM
cascade, rewrite_data_files compaction) — requires iceberg-spark-runtime
on the cluster (--packages) and the spark.sql.catalog.<catalog> conf; the
default filesystem output uses the same-surface ParquetCatalog.

Parallelism-independent output: buckets are a pure function of doc_id, the
span order is assigned per-doc inside kernels — the same input yields
byte-identical spans at any executor count (the determinism test asserts
this across partitionings).

Local smoke:
    python jobs/extract_job.py --synthetic 2000 --output /tmp/qs_job_out \\
        --run-id demo --cores 8
"""

from __future__ import annotations

import argparse
import os
import sys

# allow `python jobs/extract_job.py` from the repo root without installation;
# under spark-submit the package arrives via --py-files instead
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", help="input docs table path (doc_id, spans[])")
    p.add_argument("--synthetic", type=int, help="generate N synthetic docs instead")
    p.add_argument(
        "--corpus-path",
        default=None,
        help="with --synthetic: materialize the corpus at this path "
        "(default: a shared /tmp cache keyed by doc count)",
    )
    p.add_argument("--output", required=True, help="warehouse dir (spans + checkpoints)")
    p.add_argument("--run-id", required=True)
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument("--buckets-per-wave", type=int, default=16)
    p.add_argument("--cores", type=int, default=None, help="local mode cores (omit on a cluster)")
    p.add_argument(
        "--fail-after-waves",
        type=int,
        default=None,
        help="crash-injection drill: raise after N committed waves so the "
        "next run (same --output, fresh --run-id) must resume mid-table",
    )
    args = p.parse_args(argv)

    if args.cores:
        from qs_spark.session import get_spark

        spark = get_spark("extract_job", cores=args.cores)
    else:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.appName("qs_extract_job").getOrCreate()

    from qs_spark.catalog import get_catalog
    from qs_spark.checkpoint import run_extract_checkpointed
    from qs_spark.corpus import corpus_parquet

    if args.synthetic:
        docs = corpus_parquet(spark, args.synthetic, path=args.corpus_path)
    elif args.input and args.input.startswith("table:"):
        docs = spark.table(args.input[len("table:"):])  # Iceberg/catalog table
    elif args.input:
        docs = spark.read.parquet(args.input)
    else:
        print("one of --input/--synthetic required", file=sys.stderr)
        return 2

    from qs_spark.session import tune_scan_split

    split = tune_scan_split(spark, docs)  # size-derived scan split
    if split:
        print(f"scan split: {split} bytes", file=sys.stderr)

    cat = get_catalog(spark, args.output)
    spans = run_extract_checkpointed(
        spark,
        docs,
        cat,
        run_id=args.run_id,
        n_buckets=args.n_buckets,
        buckets_per_wave=args.buckets_per_wave,
        fail_after_waves=args.fail_after_waves,
    )
    n = spans.count()
    print(f"run {args.run_id}: {n} spans in {args.output}/spans_extracted")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
