"""Table IO abstraction.

The sandbox has no Iceberg runtime jar (offline pip), so this provides a
local parquet-directory catalog with the same call surface the Iceberg path
would use (append / dynamic-partition overwrite / merge-by-key / delete-where).
On a real cluster you'd swap `ParquetCatalog` for an Iceberg catalog and the
MERGE/DELETE bodies become `MERGE INTO` / `DELETE FROM` SQL — signatures and
semantics are identical (SURVEY.md §7.3-3).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F


class ParquetCatalog:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _recover(self, table: str) -> None:
        """Crash recovery for _rewrite's two-rename swap: a crash between
        rename(final->backup) and rename(stage->final) leaves the table dir
        missing with a .__old__ (and possibly .__stage__) beside it.  Without
        this, a resumed run would see exists()==False and silently redo work
        (correct output via idempotent overwrite, but lineage lost).  Restore
        the backup when final is absent; drop any leftover stage."""
        final = self.path(table)
        backup, stage = final + ".__old__", final + ".__stage__"
        if not os.path.isdir(final) and os.path.isdir(backup):
            os.rename(backup, final)
        for leftover in (stage, backup):
            if os.path.isdir(leftover) and os.path.isdir(final):
                shutil.rmtree(leftover)

    def exists(self, table: str) -> bool:
        self._recover(table)
        p = self.path(table)
        # data files directly in the root, or any Hive-layout partition dir
        # (key=value) — covers every partition column, not a hardcoded list
        return os.path.isdir(p) and any(
            f.endswith(".parquet")
            or f.startswith("part-")
            or ("=" in f and os.path.isdir(os.path.join(p, f)))
            for f in os.listdir(p)
        )

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        self._recover(table)
        return spark.read.parquet(self.path(table))

    def append(self, df: DataFrame, table: str, partition_by: list[str] | None = None):
        w = df.write.mode("append")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(table))

    def overwrite(self, df: DataFrame, table: str, partition_by: list[str] | None = None):
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(table))

    def overwrite_partitions(self, df: DataFrame, table: str, partition_by: list[str]):
        """Dynamic partition overwrite: only partitions present in df are
        replaced (Iceberg: overwritePartitions / INSERT OVERWRITE dynamic).

        The write is CO-LOCATED on the partition columns first (the
        write.distribution-mode=hash analog, same reasoning as
        search.write_postings): without it every upstream task writes a
        sliver file into every partition directory it touches, and both the
        write and every later scan pay per-file overhead."""
        spark = df.sparkSession
        out = df.repartition(*[F.col(c) for c in partition_by])
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            out.write.mode("overwrite").partitionBy(*partition_by).parquet(self.path(table))
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    def merge_by_key(self, df: DataFrame, table: str, keys: list[str]):
        """Upsert rows by key (Iceberg: MERGE INTO ... WHEN MATCHED UPDATE /
        WHEN NOT MATCHED INSERT). Parquet fallback: read-modify-overwrite via
        a staging dir + atomic-ish swap."""
        spark = df.sparkSession
        if not self.exists(table):
            self.overwrite(df, table)
            return
        cur = self.read(spark, table)
        merged = cur.join(df.select(*keys).distinct(), keys, "left_anti").unionByName(df)
        self._rewrite(merged, table)

    def delete_where(
        self, spark: SparkSession, table: str, condition,
        partition_by: list[str] | None = None,
    ):
        """Iceberg: DELETE FROM table WHERE cond.  Pass partition_by to
        preserve a partitioned table's layout across the parquet-fallback
        rewrite (Iceberg keeps it implicitly; a plain rewrite would flatten
        the dirs and lose partition pruning for later reads)."""
        if not self.exists(table):
            return
        cur = self.read(spark, table)
        self._rewrite(cur.filter(~condition), table, partition_by)

    def _rewrite(self, df: DataFrame, table: str, partition_by: list[str] | None = None):
        stage = self.path(table) + ".__stage__"
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(stage)
        self._swap_stage(table)

    def _swap_stage(self, table: str) -> None:
        """Atomic-ish publish of a staged rewrite (two renames; _recover
        handles a crash between them)."""
        final = self.path(table)
        backup = final + ".__old__"
        if os.path.isdir(backup):
            shutil.rmtree(backup)
        os.rename(final, backup)
        os.rename(final + ".__stage__", final)
        shutil.rmtree(backup)

    def compact(self, spark: SparkSession, table: str, target_files: int = 8):
        """Iceberg rewrite_data_files analog — the reference's periodic
        index 'optimize' (file_upload.py:441-442)."""
        df = self.read(spark, table).coalesce(target_files)
        self._rewrite(df, table)

# ---------------------------------------------------------------------------
# Iceberg path: the real thing, not prose.
#
# Same call surface as ParquetCatalog, implemented over a registered Spark
# Iceberg catalog (spark.sql.catalog.<name> = org.apache.iceberg.spark.
# SparkCatalog).  This sandbox ships no iceberg-spark-runtime jar (offline
# pip), so the constructor refuses unless the catalog conf is present — the
# class is exercised here through its pure SQL builders (unit-tested below
# in tests/test_catalog.py) and a runtime round-trip test that auto-skips
# without the jar.  On a real cluster:
#
#   spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<v> \
#     --conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog \
#     --conf spark.sql.catalog.lake.type=hadoop \
#     --conf spark.sql.catalog.lake.warehouse=s3://bucket/wh ...
#   cat = IcebergCatalog(spark, "lake", "qs")
#
# and every checkpoint/registry/qcache call site works unchanged (they take
# the catalog as a parameter).  MERGE/DELETE become metadata-respecting SQL
# (merge-on-read or copy-on-write per table property) instead of the parquet
# fallback's staged rewrite, and compact() becomes the rewrite_data_files
# maintenance procedure (the reference's periodic index 'optimize',
# file_upload.py:441-442).
# ---------------------------------------------------------------------------


def _ident(name: str) -> str:
    """Backtick-quote one identifier part (defense against weird table
    names; identifiers come from engine constants, never user input)."""
    return "`" + name.replace("`", "``") + "`"


def qualified_name(catalog: str, namespace: str, table: str) -> str:
    return ".".join(_ident(p) for p in (catalog, namespace, table))


def merge_into_sql(target: str, source_view: str, keys: list[str], columns: list[str]) -> str:
    """MERGE INTO upsert matching ParquetCatalog.merge_by_key semantics:
    matched rows are fully replaced by the source row, unmatched inserted."""
    on = " AND ".join(f"t.{_ident(k)} = s.{_ident(k)}" for k in keys)
    sets = ", ".join(f"t.{_ident(c)} = s.{_ident(c)}" for c in columns if c not in keys)
    cols = ", ".join(_ident(c) for c in columns)
    vals = ", ".join(f"s.{_ident(c)}" for c in columns)
    # all-key tables have nothing to UPDATE; a bare MATCHED clause is invalid
    matched = f"WHEN MATCHED THEN UPDATE SET {sets} " if sets else ""
    return (
        f"MERGE INTO {target} t USING {source_view} s ON {on} "
        f"{matched}"
        f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({vals})"
    )


def delete_where_sql(target: str, condition_sql: str) -> str:
    return f"DELETE FROM {target} WHERE {condition_sql}"


def rewrite_data_files_sql(catalog: str, namespace: str, table: str,
                           target_file_size_bytes: int | None = None) -> str:
    """Iceberg maintenance procedure behind ParquetCatalog.compact.
    target_files has no direct Iceberg analog; size is the knob there."""
    opts = ""
    if target_file_size_bytes is not None:
        opts = (", options => map('target-file-size-bytes', "
                f"'{int(target_file_size_bytes)}')")
    return (f"CALL {_ident(catalog)}.system.rewrite_data_files("
            f"table => '{namespace}.{table}'{opts})")


def expire_snapshots_sql(catalog: str, namespace: str, table: str,
                         retain_last: int = 5) -> str:
    return (f"CALL {_ident(catalog)}.system.expire_snapshots("
            f"table => '{namespace}.{table}', retain_last => {int(retain_last)})")


def condition_to_sql(condition, df: DataFrame | None = None) -> str:
    """Render a delete predicate to SQL text.  SQL text passes verbatim; a
    pyspark Column needs the target-table DataFrame to resolve against:
    Spark 4 Columns are lazy ColumnNodes with no standalone SQL rendering,
    so the canonical route is analyze-then-print — filter the table by the
    Column and take the analyzed Filter's condition.sql() (classic mode
    only; under Spark Connect pass SQL text, the error says so)."""
    if isinstance(condition, str):
        return condition
    if df is None:
        raise TypeError("Column predicate needs the target DataFrame to resolve against")
    try:
        return df.filter(condition)._jdf.queryExecution().analyzed().condition().sql()
    except AttributeError as e:
        raise TypeError(
            "IcebergCatalog.delete_where needs a SQL string predicate under "
            "Spark Connect (no JVM plan handle to render the Column there)"
        ) from e


class IcebergCatalog:
    """ParquetCatalog-compatible surface over a real Iceberg catalog.

    Tables live at <catalog>.<namespace>.<table>; partition layout is an
    Iceberg table property (PARTITIONED BY at create), so the partition_by
    arguments are honored at first write and ignored after (Iceberg keeps
    the spec; the parquet fallback must thread it through every rewrite).
    """

    def __init__(self, spark: SparkSession, catalog: str = "lake", namespace: str = "qs"):
        impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
        if not impl:
            raise RuntimeError(
                f"no Spark catalog '{catalog}' registered — set "
                f"spark.sql.catalog.{catalog}=org.apache.iceberg.spark.SparkCatalog "
                "(+ type/warehouse conf) and ship iceberg-spark-runtime via "
                "--packages; this sandbox has no Iceberg jar, use ParquetCatalog"
            )
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {_ident(catalog)}.{_ident(namespace)}")

    def path(self, table: str) -> str:  # name parity with ParquetCatalog
        return qualified_name(self.catalog, self.namespace, table)

    def exists(self, table: str) -> bool:
        return self.spark.catalog.tableExists(self.path(table))

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        return spark.table(self.path(table))

    def append(self, df: DataFrame, table: str, partition_by: list[str] | None = None):
        if not self.exists(table):
            self._create(df, table, partition_by)
        df.writeTo(self.path(table)).append()

    def overwrite(self, df: DataFrame, table: str, partition_by: list[str] | None = None):
        w = df.writeTo(self.path(table)).using("iceberg")
        if partition_by:
            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        w.createOrReplace()

    def overwrite_partitions(self, df: DataFrame, table: str, partition_by: list[str]):
        """Dynamic partition overwrite (Iceberg overwritePartitions), with
        the same pre-write co-location as the parquet path — on Iceberg
        prefer setting table property write.distribution-mode=hash, which
        makes the explicit repartition redundant."""
        if not self.exists(table):
            self._create(df, table, partition_by)
        out = df.repartition(*[F.col(c) for c in partition_by])
        out.writeTo(self.path(table)).overwritePartitions()

    def merge_by_key(self, df: DataFrame, table: str, keys: list[str]):
        if not self.exists(table):
            self.overwrite(df, table)
            return
        view = f"__qs_merge_src_{table}"
        df.createOrReplaceTempView(view)
        try:
            self.spark.sql(merge_into_sql(self.path(table), _ident(view), keys, df.columns))
        finally:
            self.spark.catalog.dropTempView(view)

    def delete_where(self, spark: SparkSession, table: str, condition,
                     partition_by: list[str] | None = None):
        if not self.exists(table):
            return
        pred = condition_to_sql(condition, self.read(spark, table))
        spark.sql(delete_where_sql(self.path(table), pred))

    def compact(self, spark: SparkSession, table: str, target_files: int = 8,
                target_file_size_bytes: int | None = None):
        spark.sql(rewrite_data_files_sql(
            self.catalog, self.namespace, table, target_file_size_bytes))

    def expire_snapshots(self, table: str, retain_last: int = 5):
        self.spark.sql(expire_snapshots_sql(
            self.catalog, self.namespace, table, retain_last))

    def _create(self, df: DataFrame, table: str, partition_by: list[str] | None):
        w = df.limit(0).writeTo(self.path(table)).using("iceberg")
        if partition_by:
            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        w.create()


def get_catalog(spark: SparkSession, spec: str):
    """Catalog factory: 'iceberg://<catalog>/<namespace>' -> IcebergCatalog,
    anything else is a local warehouse dir -> ParquetCatalog."""
    if spec.startswith("iceberg://"):
        cat, _, ns = spec[len("iceberg://"):].partition("/")
        return IcebergCatalog(spark, cat or "lake", ns or "qs")
    return ParquetCatalog(spec)
