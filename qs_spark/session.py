"""SparkSession factory tuned for the extraction workload.

Local-mode testing stands in for a multi-executor cluster; every knob here is
chosen to transfer: AQE for runtime re-plan / skew joins, Arrow for the pandas
kernel exchange, shuffle partitions sized to cores (not the 200 default that
would produce tiny shuffle files at 100 TB you'd instead size to
input_bytes / target_partition_bytes).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "qs_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` drives both the local master and shuffle parallelism so the same
    code runs at N and 4N parallelism for the scaling benchmark
    (BASELINE.json north_rule: efficiency >= 0.8 between N and 4N).
    """
    cores = cores or DEFAULT_CPUS
    # >=2 partitions per core so stragglers overlap; at cluster scale you'd
    # size by bytes instead (see extract.plan_partitions).
    shuffle_partitions = shuffle_partitions or max(2 * cores, 8)

    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # extraction rows are fat (whole documents): 8192 balances Arrow
        # round-trip overhead (measured: the JVM row->Arrow conversion of the
        # nested spans column is the exchange floor, ~15% cheaper at 8192
        # than 1024 on the 100k-doc corpus) against per-batch memory (a few
        # hundred MB of doc text worst case; mega docs are pre-split so no
        # single row is unbounded)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        # the JVM->Python Arrow stream's socket buffer: at the 64 KB default
        # the JVM writer blocks on the Python consumer and the two serialize
        # (measured 12.4 s -> 10-11 s on the 100k-doc extract at 4 MB).
        # Bigger is NOT better once a downstream exchange stacks on: 16 MB
        # was fastest on a bare kernel .count() (9.9 s) but intermittently
        # collapsed the full extract+store job to 30-50 s (buffer memory x
        # 32 tasks x both directions -> GC churn); 64 MB regressed even the
        # bare kernel to 26 s.  4 MB x task-concurrency = ~128 MB here,
        # 16-32 MB on a 4-8 core executor
        .config("spark.sql.execution.pandas.udf.buffer.size", str(4 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("QS_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Spark 4 routes lower()/upper() under UTF8_BINARY through the ICU
        # library (spark.sql.icu.caseMappings.enabled defaults true).  Thread
        # dumps of the extract bench showed EVERY first-wave task pinned in
        # CollationSupport$Lower.execBinaryICU — ICU's case-map tables
        # initialize under contention on a cold JVM (~7 s wall across 32
        # task threads, recurring per bench subprocess) and the per-char
        # mapping stays slower afterwards.  The JVM path is
        # semantics-identical for this engine's data (full oracle sweep +
        # golden suite green with the flag off; the DuckDB oracles pin
        # lowercase outputs byte-for-byte), so we pin the JVM path.
        # Measured: fresh-session extract 12.7-21.4 s -> 6.7 s first run,
        # 4.3 s steady (sf0.1, local[32]).  lower() rides every hot path
        # here: store F2, norm_text (all dedup sketches), token explodes.
        .config("spark.sql.icu.caseMappings.enabled", "false")
        # guide §6: zstd parquet beats snappy at similar write speed.  A/B on
        # the bench store (3 trials each, same session): snappy 97 MB /
        # 3.4-6.5 s vs zstd 63 MB / 3.6-4.4 s — write time equal within
        # noise, and every downstream scan (search reads the store, postings
        # lookups read the index) moves ~35% fewer bytes.
        .config("spark.sql.parquet.compression.codec", "zstd")
        # extraction rows are fat and the kernel is CPU-heavy: a 128 MB scan
        # split is far too coarse (a bucketed input collapses to a handful of
        # tasks and the job runs in 1.x waves).  4 MB max + 4 MB open cost =
        # one bucket file per task on bucketed layouts, fine-grained waves.
        # This is only the SESSION DEFAULT sized for the sandbox corpus —
        # jobs size it from the actual input via tune_scan_split() below
        .config("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(4 * 1024 * 1024))
    )
    extra_conf = dict(extra_conf or {})
    # Python workers fork from qs_spark.pydaemon (pyspark.daemon plus a
    # stat-guarded zipimport cache, ~0.15 s CPU saved per Python task), so
    # the daemon must import qs_spark whatever the executor's cwd is
    # (without the path entry every Python task fails to start)
    extra_conf["spark.executorEnv.PYTHONPATH"] = _worker_pythonpath(
        extra_conf.get("spark.executorEnv.PYTHONPATH", "")
    )
    extra_conf.setdefault("spark.python.daemon.module", "qs_spark.pydaemon")
    for k, v in extra_conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _worker_pythonpath(current: str) -> str:
    """`current` with qs_spark's import root appended (once)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [p for p in current.split(os.pathsep) if p]
    if root not in paths:
        paths.append(root)
    return os.pathsep.join(paths)


def input_bytes(df) -> int | None:
    """Total bytes of `df`'s input files, or None when they aren't all local
    files (on a cluster you'd size via the Hadoop FS API or the table
    format's statistics).  The paths cross py4j as ONE string joined
    JVM-side: iterating the Java array costs ~2 round trips per file."""
    try:
        joined = df.sparkSession._jvm.org.apache.hadoop.util.StringUtils.join(
            "\0", df._jdf.inputFiles()
        )
        total = 0
        for f in filter(None, joined.split("\0")):
            p = f[7:] if f.startswith("file://") else f
            if not p.startswith("/"):
                return None
            total += os.path.getsize(p)
    except Exception:
        return None
    return total


MIN_SPLIT_BYTES = 4 * 1024 * 1024
MAX_SPLIT_BYTES = 256 * 1024 * 1024
SCAN_WAVES = 4  # scan tasks per core tune_scan_split aims for


def tune_scan_split(spark, input_df) -> int | None:
    """Size-derive spark.sql.files.maxPartitionBytes from the ACTUAL input
    instead of the session default: split = clamp(input_bytes /
    (cores * SCAN_WAVES), 4 MB, 256 MB), ~SCAN_WAVES scan tasks per core.

    The 4 MB session default is tuned for this sandbox's 100k-doc corpus; at
    a real 100 TB the same constant would create 25M scan tasks — the split
    must scale with the input.  maxPartitionBytes is a runtime conf, so this
    applies to every subsequent scan in the session.

    Returns the chosen split, or None when input size isn't locally
    determinable (see input_bytes)."""
    total = input_bytes(input_df)
    if not total:
        return None
    cores = spark.sparkContext.defaultParallelism
    split = max(MIN_SPLIT_BYTES, min(MAX_SPLIT_BYTES, total // (cores * SCAN_WAVES)))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
    spark.conf.set("spark.sql.files.openCostInBytes", str(min(split, MIN_SPLIT_BYTES)))
    return split
