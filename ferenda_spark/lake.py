"""Table-format seam for the lake writes (VERDICT r4 #5).

The pipeline's storage layer is Iceberg-shaped (SURVEY §3: triple +
entity + entries tables in an Iceberg lake), but this sandbox ships no
Iceberg runtime, so round ≤4 hand-rolled the semantics over a
(bucket, predicate)-partitioned parquet layout inside
``operators/lineage.py``. This module makes that swap mechanical: one
interface, two backends —

- :class:`ParquetBucketFormat` — the sandbox backend; owns the code
  that used to live as free functions in ``operators.lineage`` (which
  now delegates here, so every existing test exercises the seam).
- :class:`IcebergFormat` — the production backend: each method is one
  Iceberg SQL statement / procedure (emitted by ``*_sql`` methods that
  are unit-tested without a runtime, executed via ``spark.sql`` when a
  catalog is actually configured).

Method-by-method mapping (the contract both backends satisfy):

=================  ===================================================
method             Iceberg equivalent
=================  ===================================================
``write``          ``CREATE OR REPLACE TABLE t ... AS SELECT`` — full
                   snapshot write, partitioned by
                   ``(bucket(64, source_url), predicate)``
``merge``          ``MERGE INTO t USING batch ON
                   t.source_url = batch.source_url WHEN MATCHED THEN
                   DELETE`` + ``INSERT`` — per-url replace, the
                   CLEAR-context-and-reload analog; atomic snapshot
                   commit replaces the local drop-dir-and-append
``compact``        ``CALL catalog.system.rewrite_data_files(t,
                   sort_order => 'subject')`` — small-file maintenance
``manifest``       ``SELECT partition, count(*) ... FROM t.files`` —
                   the files metadata table replaces the
                   input_file_name() census
``read``           ``spark.table(t)`` (snapshot isolation for free;
                   time travel via ``VERSION AS OF`` feeds
                   ``operators/versioning.py``'s snapshot diff)
=================  ===================================================

Scale design is identical in both backends: the write unit is
(source_url-hash bucket × predicate) — buckets bound the idempotent
re-run/overwrite granularity, the predicate axis gives every
predicate-bound SPARQL pattern scan directory-level pruning, and RDF's
small closed predicate set keeps the partition count far from the
small-files cliff at 10^12 documents (see write_triples' original plan
evidence in BENCH.md).
"""

from __future__ import annotations

import os
import shutil
from abc import ABC, abstractmethod

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

N_BUCKETS = 64  # url-hash buckets; the write/overwrite unit


def bucket_of(col):
    return F.pmod(F.xxhash64(col), F.lit(N_BUCKETS)).cast("int")


class TableFormat(ABC):
    """Storage backend for the partitioned triple table."""

    @abstractmethod
    def write(self, triples: DataFrame, target: str) -> None:
        """Full snapshot write of ``triples`` to ``target``."""

    @abstractmethod
    def merge(self, spark: SparkSession, new_triples: DataFrame,
              target: str) -> None:
        """Per-url replace: every url present in ``new_triples`` has
        its old rows dropped and new rows inserted; untouched urls are
        byte-stable. Idempotent (re-merging the same batch is a
        no-op in content terms)."""

    @abstractmethod
    def compact(self, spark: SparkSession, target: str,
                max_records_per_file: int = 5_000_000) -> None:
        """Rewrite fragmented partitions; content-preserving."""

    @abstractmethod
    def manifest(self, spark: SparkSession, target: str) -> DataFrame:
        """(bucket, predicate, n_files, n_rows, min_rows_per_file)."""

    @abstractmethod
    def read(self, spark: SparkSession, target: str) -> DataFrame:
        """Scan the table."""


class ParquetBucketFormat(TableFormat):
    """The sandbox backend: (bucket, predicate) directory-partitioned
    parquet with hand-rolled MERGE/compaction semantics. See module
    docstring for the per-method Iceberg mapping; per-method scale
    notes kept from the original free functions."""

    def write(self, triples: DataFrame, target: str) -> None:
        # rows sort by subject within each file for row-group skipping
        # on subject-bound scans; one shuffle on the partition key
        (triples.withColumn("bucket", bucket_of(F.col("source_url")))
         .repartition("bucket", "predicate")
         .sortWithinPartitions("subject")
         .write.partitionBy("bucket", "predicate").mode("overwrite")
         .parquet(target))

    def merge(self, spark: SparkSession, new_triples: DataFrame,
              target: str) -> None:
        # Affected buckets are replaced WHOLE (their directories
        # dropped, merged rows appended): with predicate
        # sub-partitions, leaf-level dynamic overwrite would leave a
        # stale (bucket, predicate) dir behind whenever a re-parsed
        # url stopped emitting some predicate and no other url in the
        # bucket carries it. In production this read-union-rewrite is
        # one atomic Iceberg MERGE INTO; the local parquet form trades
        # that atomicity for the same end state.
        if not os.path.exists(target):
            self.write(new_triples, target)
            return
        new_b = new_triples.withColumn(
            "bucket", bucket_of(F.col("source_url")))
        changed_urls = new_b.select("source_url", "bucket").distinct()
        buckets = [r["bucket"] for r in
                   changed_urls.select("bucket").distinct().collect()]
        if not buckets:
            return
        existing = (spark.read.parquet(target)
                    .where(F.col("bucket").isin(buckets))
                    .join(changed_urls.select("source_url").distinct(),
                          "source_url", "left_anti"))
        # materialize before touching the path we just read
        merged = existing.unionByName(new_b).localCheckpoint(eager=True)
        for b in buckets:
            shutil.rmtree(os.path.join(target, "bucket=%d" % b),
                          ignore_errors=True)
        (merged.repartition("bucket", "predicate")
         .sortWithinPartitions("subject")
         .write.partitionBy("bucket", "predicate")
         .mode("append").parquet(target))

    def compact(self, spark: SparkSession, target: str,
                max_records_per_file: int = 5_000_000) -> None:
        # one shuffle on the uniform partition key; maxRecordsPerFile
        # bounds any rdf:type-sized partition's files without a second
        # exchange; content unchanged (round-trip tested)
        df = spark.read.parquet(target).localCheckpoint(eager=True)
        (df.repartition("bucket", "predicate")
         .sortWithinPartitions("subject")
         .write.partitionBy("bucket", "predicate")
         .option("maxRecordsPerFile", max_records_per_file)
         .mode("overwrite").parquet(target))

    def manifest(self, spark: SparkSession, target: str) -> DataFrame:
        # file identity from input_file_name inside the scan, never
        # the driver; one scan + one hash agg on the partition key
        df = spark.read.parquet(target)
        per_file = (df.select("bucket", "predicate",
                              F.input_file_name().alias("f"))
                    .groupBy("bucket", "predicate", "f")
                    .agg(F.count(F.lit(1)).alias("rows")))
        return (per_file.groupBy("bucket", "predicate")
                .agg(F.count(F.lit(1)).alias("n_files"),
                     F.sum("rows").alias("n_rows"),
                     F.min("rows").alias("min_rows_per_file")))

    def read(self, spark: SparkSession, target: str) -> DataFrame:
        return spark.read.parquet(target)


class IcebergFormat(TableFormat):
    """Production backend: ``target`` is a catalog table name. The
    ``*_sql`` methods build the exact statements (unit-testable with
    no runtime); the TableFormat methods execute them via
    ``spark.sql`` and therefore require an Iceberg-enabled session
    (spark.sql.extensions = IcebergSparkSessionExtensions and a
    configured catalog) — absent that, Spark raises its own
    TABLE_OR_VIEW_NOT_FOUND/extension error, which is the honest
    failure mode here."""

    TRIPLE_COLS = ("source_url", "subject", "predicate", "object",
                   "objtype", "lang", "datatype")

    def write_sql(self, table: str, source_view: str) -> tuple[str, str]:
        return (
            "CREATE OR REPLACE TABLE %s "
            "USING iceberg "
            "PARTITIONED BY (bucket(%d, source_url), predicate) "
            "TBLPROPERTIES ('write.distribution-mode' = 'hash') "
            "AS SELECT * FROM %s" % (table, N_BUCKETS, source_view),
            # a sort order is table metadata, not a table property; it
            # orders every later write (merges, and compaction's sort
            # rewrite), not the files the CTAS above already wrote
            "ALTER TABLE %s WRITE ORDERED BY subject ASC" % table)

    def merge_sql(self, table: str, batch_view: str) -> tuple[str, str]:
        cols = ", ".join(self.TRIPLE_COLS)
        return (
            "MERGE INTO %s t USING "
            "(SELECT DISTINCT source_url FROM %s) b "
            "ON t.source_url = b.source_url "
            "WHEN MATCHED THEN DELETE" % (table, batch_view),
            # two statements: MERGE can't both delete matches and
            # insert a multi-row replacement per key, so the per-url
            # replace is delete-matched + append — two snapshot
            # commits, not one transaction: a reader or a crash
            # between them sees the batch's urls missing
            "INSERT INTO %s SELECT %s FROM %s"
            % (table, cols, batch_view))

    def compact_sql(self, table: str,
                    max_records_per_file: int = 5_000_000) -> str:
        catalog = table.split(".")[0]
        return (
            "CALL %s.system.rewrite_data_files("
            "table => '%s', strategy => 'sort', "
            "sort_order => 'subject ASC', "
            "options => map('target-file-size-bytes', '536870912', "
            "'max-records-per-file', '%d'))"
            % (catalog, table, max_records_per_file))

    def manifest_sql(self, table: str) -> str:
        return (
            "SELECT partition.source_url_bucket AS bucket, "
            "partition.predicate AS predicate, "
            "COUNT(*) AS n_files, SUM(record_count) AS n_rows, "
            "MIN(record_count) AS min_rows_per_file "
            "FROM %s.files GROUP BY 1, 2" % table)

    # -- executing forms ------------------------------------------------
    def write(self, triples: DataFrame, target: str) -> None:
        view = "_lake_write_src"
        triples.createOrReplaceTempView(view)
        for stmt in self.write_sql(target, view):
            triples.sparkSession.sql(stmt)

    def merge(self, spark: SparkSession, new_triples: DataFrame,
              target: str) -> None:
        view = "_lake_merge_batch"
        new_triples.createOrReplaceTempView(view)
        for stmt in self.merge_sql(target, view):
            spark.sql(stmt)

    def compact(self, spark: SparkSession, target: str,
                max_records_per_file: int = 5_000_000) -> None:
        spark.sql(self.compact_sql(target, max_records_per_file))

    def manifest(self, spark: SparkSession, target: str) -> DataFrame:
        return spark.sql(self.manifest_sql(target))

    def read(self, spark: SparkSession, target: str) -> DataFrame:
        return spark.table(target)


_DEFAULT: TableFormat = ParquetBucketFormat()


def get_table_format() -> TableFormat:
    """The configured backend — ParquetBucketFormat in this sandbox;
    set ``FERENDA_SPARK_TABLE_FORMAT=iceberg`` on a cluster with an
    Iceberg catalog to route every lake write through MERGE INTO /
    rewrite_data_files instead."""
    if os.environ.get("FERENDA_SPARK_TABLE_FORMAT", "").lower() == \
            "iceberg":
        return IcebergFormat()
    return _DEFAULT
