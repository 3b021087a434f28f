"""Table-format seam for the lake writes (VERDICT r4 #5).

The pipeline's storage layer is Iceberg-shaped (SURVEY §3: triple +
entity + entries tables in an Iceberg lake), but this sandbox ships no
Iceberg runtime, so the semantics are hand-rolled over a
bucket-partitioned parquet layout. One interface, two backends —

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
``write``          ``CREATE OR REPLACE TABLE t ... PARTITIONED BY
                   (bucket(n, source_url)) AS SELECT`` — full snapshot
                   write — then ``WRITE ORDERED BY predicate, subject``
``merge``          ``MERGE INTO t USING batch ON
                   t.source_url = batch.source_url WHEN MATCHED THEN
                   DELETE`` + ``INSERT`` — per-url replace, the
                   CLEAR-context-and-reload analog; snapshot commits
                   replace the local drop-dir-and-append
``compact``        ``CALL catalog.system.rewrite_data_files(t,
                   sort_order => 'predicate, subject')`` — small-file
                   maintenance
``manifest``       ``SELECT partition.source_url_bucket, count(*) ...
                   FROM t.files`` — the files metadata table replaces
                   the input_file_name() census
``read``           ``spark.table(t)`` (snapshot isolation for free;
                   time travel via ``VERSION AS OF`` feeds
                   ``operators/versioning.py``'s snapshot diff); the
                   schema comes from table metadata, as the parquet
                   backend's comes from ``_lake.json``
=================  ===================================================

Layout, the same in both backends: the triple table's one partition
level is a bucket, murmur3(source_url) mod n — the unit a merge
rewrites (a changed page rewrites its bucket). Rows sort by
(predicate, subject) within each file: a predicate-bound SPARQL
pattern scan still hands its predicate equality to the parquet reader
as a pushed filter, and row-group min/max statistics on the sorted
column skip the other predicates' rows — the pruning the former
predicate directories gave. The bucket count n is table metadata
(``_lake.json`` beside the data; Spark and pyarrow skip
``_``-prefixed files): the first write sets it to
ceil(rows / ROWS_PER_FILE), every merge reads it back, and only
``compact`` re-buckets. A write runs one task per bucket and leaves
one file per bucket. ``_lake.json`` also carries the table's schema, as
Iceberg table metadata does, so a read needs no schema-inference job
over the file footers; a table whose ``_lake.json`` lacks it is read
only after one ``compact``, which infers the schema and records it.

Why bucket-only, and why this constant — measured on the kgbench
corpus (25,100 triples, 14 predicates; local[4], 4-core host, medians
of 9, of 5 for the former layout): a file costs a fixed ~17 ms to write and ~5.5 ms to scan on top
of its rows. The former (64 url-hash buckets × predicate) layout cut
that corpus into 893 files of ~2.8 KB: 10.6 s to write, 1.07 s to scan
in full. Bucket-only, 4 / 8 / 16 / 64 buckets write in 0.26 / 0.32 /
0.48 / 1.27 s and scan in 0.13 / 0.14 / 0.14 / 0.46 s; 1 or 2 buckets
are no faster than 4 (0.31 / 0.29 s to write), as fewer files than
cores leave cores idle. ROWS_PER_FILE = 8,000 gives that corpus its 4
buckets, one per core. The constant fixes rows per file, not the file
count: at 10^9 triples it gives 125,000 buckets of 8,000 rows (~56 KB
each at this corpus's ~7 bytes per row), so a table that size wants
the constant raised, and ``compact`` re-buckets it to the new value.
"""

from __future__ import annotations

import json
import os
import shutil
from abc import ABC, abstractmethod

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

ROWS_PER_FILE = 8_000   # target rows per bucket file; sets the bucket count
META = "_lake.json"     # the table's bucket count and schema, by the data


def bucket_of(col, n_buckets: int):
    """A row's bucket: Spark's murmur3 hash of ``col`` mod ``n_buckets``
    — the partition id ``repartition(n_buckets, col)`` assigns, so a
    write's task i holds exactly bucket i."""
    return F.pmod(F.hash(col), F.lit(n_buckets)).cast("int")


def buckets_for(n_rows: int) -> int:
    """The bucket count a table of ``n_rows`` rows is written with."""
    return max(1, -(-n_rows // ROWS_PER_FILE))


def _read_meta(target: str, key: str):
    """``key`` of ``target``'s ``_lake.json``."""
    meta = os.path.join(target, META)
    info = {}
    if os.path.exists(meta):
        with open(meta) as f:
            info = json.load(f)
    if key not in info:
        raise ValueError(
            "%s has no %s with its %s: it predates the current layout "
            "(or its write did not finish); run compact on it once to "
            "rewrite it" % (target, META, key))
    return info[key]


def read_buckets(target: str) -> int:
    """The bucket count recorded in ``target``'s ``_lake.json``."""
    return int(_read_meta(target, "buckets"))


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
        """(bucket, n_files, n_rows, min_rows_per_file)."""

    @abstractmethod
    def read(self, spark: SparkSession, target: str) -> DataFrame:
        """Scan the table."""


class ParquetBucketFormat(TableFormat):
    """The sandbox backend: bucket-partitioned parquet, rows sorted by
    (predicate, subject) within each file, with hand-rolled
    MERGE/compaction semantics. See the module docstring for the
    layout and the per-method Iceberg mapping."""

    @staticmethod
    def _write(df: DataFrame, target: str, n_buckets: int, mode: str,
               max_records_per_file: int = 0) -> None:
        # one task per bucket: the explicit partition count keeps AQE
        # from coalescing the write into one task, and bucket_of is the
        # hash partitioner's own partition id; the bucket leads the
        # sort so it satisfies the writer's partition-column ordering
        # and no second sort replaces (predicate, subject)
        w = (df.drop("bucket")
             .withColumn("bucket", bucket_of(F.col("source_url"),
                                             n_buckets))
             .repartition(n_buckets, "source_url")
             .sortWithinPartitions("bucket", "predicate", "subject")
             .write.partitionBy("bucket").mode(mode))
        if max_records_per_file:
            w = w.option("maxRecordsPerFile", max_records_per_file)
        w.parquet(target)

    @staticmethod
    def _write_meta(target: str, n_buckets: int, df: DataFrame) -> None:
        # the files' schema: the data columns, all nullable (the
        # parquet writer makes every column nullable)
        schema = StructType([StructField(f.name, f.dataType, True)
                             for f in df.drop("bucket").schema])
        with open(os.path.join(target, META), "w") as f:
            json.dump({"buckets": n_buckets,
                       "schema": schema.jsonValue()}, f)

    def write(self, triples: DataFrame, target: str) -> None:
        n = buckets_for(triples.count())
        self._write(triples, target, n, "overwrite")
        self._write_meta(target, n, triples)

    def merge(self, spark: SparkSession, new_triples: DataFrame,
              target: str) -> None:
        # Affected buckets are replaced WHOLE (their directories
        # dropped, merged rows appended) in the table's recorded bucket
        # count — a merge never re-buckets. Not atomic: a crash between
        # the rmtree and the append loses those buckets; the Iceberg
        # backend reaches the same end state through snapshot commits.
        if not os.path.exists(target):
            self.write(new_triples, target)
            return
        n = read_buckets(target)
        changed_urls = (new_triples.select("source_url").distinct()
                        .withColumn("bucket",
                                    bucket_of(F.col("source_url"), n)))
        buckets = [r["bucket"] for r in
                   changed_urls.select("bucket").distinct().collect()]
        if not buckets:
            return
        existing = (self.read(spark, target)
                    .where(F.col("bucket").isin(buckets))
                    .join(changed_urls.select("source_url"),
                          "source_url", "left_anti")
                    .drop("bucket"))
        # materialize before touching the path we just read
        merged = existing.unionByName(new_triples) \
            .localCheckpoint(eager=True)
        for b in buckets:
            shutil.rmtree(os.path.join(target, "bucket=%d" % b),
                          ignore_errors=True)
        self._write(merged, target, n, "append")

    def compact(self, spark: SparkSession, target: str,
                max_records_per_file: int = 5_000_000) -> None:
        # the one place that re-buckets: the count follows the table's
        # current size, and a table in an older layout (any partition
        # directories, no _lake.json) is rewritten into this one;
        # content unchanged (round-trip tested); it reads by schema
        # inference, so it also repairs a _lake.json without a schema
        df = spark.read.parquet(target).drop("bucket") \
            .localCheckpoint(eager=True)
        n = buckets_for(df.count())
        self._write(df, target, n, "overwrite", max_records_per_file)
        self._write_meta(target, n, df)

    def manifest(self, spark: SparkSession, target: str) -> DataFrame:
        # file identity from input_file_name inside the scan, never
        # the driver; one scan + one hash agg on the partition key
        df = spark.read.parquet(target)
        per_file = (df.select("bucket", F.input_file_name().alias("f"))
                    .groupBy("bucket", "f")
                    .agg(F.count(F.lit(1)).alias("rows")))
        return (per_file.groupBy("bucket")
                .agg(F.count(F.lit(1)).alias("n_files"),
                     F.sum("rows").alias("n_rows"),
                     F.min("rows").alias("min_rows_per_file")))

    def read(self, spark: SparkSession, target: str) -> DataFrame:
        # the recorded schema spares the footer-reading job schema
        # inference runs on every read (measured 90 → 16 ms a read);
        # the bucket partition column comes last, as inference puts it
        schema = StructType.fromJson(_read_meta(target, "schema")) \
            .add("bucket", IntegerType())
        return spark.read.schema(schema).parquet(target)


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

    def write_sql(self, table: str, source_view: str,
                  n_buckets: int) -> tuple[str, str]:
        return (
            "CREATE OR REPLACE TABLE %s "
            "USING iceberg "
            "PARTITIONED BY (bucket(%d, source_url)) "
            "TBLPROPERTIES ('write.distribution-mode' = 'hash') "
            "AS SELECT * FROM %s" % (table, n_buckets, source_view),
            # a sort order is table metadata, not a table property; it
            # orders every later write (merges, and compaction's sort
            # rewrite), not the files the CTAS above already wrote
            "ALTER TABLE %s WRITE ORDERED BY predicate ASC, subject ASC"
            % table)

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
            "sort_order => 'predicate ASC, subject ASC', "
            "options => map('target-file-size-bytes', '536870912', "
            "'max-records-per-file', '%d'))"
            % (catalog, table, max_records_per_file))

    def manifest_sql(self, table: str) -> str:
        return (
            "SELECT partition.source_url_bucket AS bucket, "
            "COUNT(*) AS n_files, SUM(record_count) AS n_rows, "
            "MIN(record_count) AS min_rows_per_file "
            "FROM %s.files GROUP BY 1" % table)

    # -- executing forms ------------------------------------------------
    def write(self, triples: DataFrame, target: str) -> None:
        view = "_lake_write_src"
        triples.createOrReplaceTempView(view)
        n = buckets_for(triples.count())
        for stmt in self.write_sql(target, view, n):
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
