"""Table-format seam (ferenda_spark.lake, VERDICT r4 #5).

The ParquetBucketFormat write/merge/compact/manifest behavior is
covered end-to-end by tests/test_lineage_streaming.py, which runs
THROUGH the seam (operators.lineage delegates every lake write to
get_table_format()). Here: the layout's bucket-count metadata, the
conversion of an older layout, the seam's routing contract and the
IcebergFormat statement emission, which must be auditable without an
Iceberg runtime."""

import json
import os

import pytest
from pyspark.sql import functions as F

from ferenda_spark import lake


def test_default_format_is_parquet():
    assert isinstance(lake.get_table_format(), lake.ParquetBucketFormat)


def test_env_routes_to_iceberg(monkeypatch):
    monkeypatch.setenv("FERENDA_SPARK_TABLE_FORMAT", "iceberg")
    assert isinstance(lake.get_table_format(), lake.IcebergFormat)


def test_lineage_functions_route_through_seam(monkeypatch):
    """operators.lineage.write_triples/merge_triples/compact_triples/
    table_manifest must call the CONFIGURED backend, not hardcode the
    parquet one."""
    from ferenda_spark.operators import lineage

    calls = []

    class Probe(lake.TableFormat):
        def write(self, triples, target):
            calls.append(("write", target))

        def merge(self, spark, new_triples, target):
            calls.append(("merge", target))

        def compact(self, spark, target, max_records_per_file=5_000_000):
            calls.append(("compact", target, max_records_per_file))

        def manifest(self, spark, target):
            calls.append(("manifest", target))
            return "MANIFEST"

        def read(self, spark, target):
            return None

    monkeypatch.setattr(lake, "_DEFAULT", Probe())
    monkeypatch.delenv("FERENDA_SPARK_TABLE_FORMAT", raising=False)
    lineage.write_triples(None, "/t")
    lineage.merge_triples(None, None, "/t")
    lineage.compact_triples(None, "/t", 99)
    assert lineage.table_manifest(None, "/t") == "MANIFEST"
    assert calls == [("write", "/t"), ("merge", "/t"),
                     ("compact", "/t", 99), ("manifest", "/t")]


def test_iceberg_write_sql():
    f = lake.IcebergFormat()
    sql, order = f.write_sql("cat.db.triples", "src_view", 8)
    assert "CREATE OR REPLACE TABLE cat.db.triples" in sql
    assert "USING iceberg" in sql
    # the bucket is the only partition level; predicate is a sort key
    assert "PARTITIONED BY (bucket(8, source_url)) " in sql
    assert "predicate" not in sql
    assert sql.endswith("AS SELECT * FROM src_view")
    # Iceberg has no 'sort-order' table property: the sort order is
    # set by its own DDL statement
    assert "sort-order" not in sql
    assert order == ("ALTER TABLE cat.db.triples "
                     "WRITE ORDERED BY predicate ASC, subject ASC")


def test_iceberg_merge_sql_is_per_url_replace():
    f = lake.IcebergFormat()
    delete, insert = f.merge_sql("cat.db.triples", "batch")
    assert delete.startswith("MERGE INTO cat.db.triples")
    assert "ON t.source_url = b.source_url" in delete
    assert "WHEN MATCHED THEN DELETE" in delete
    assert insert.startswith("INSERT INTO cat.db.triples")
    # the insert must project the full triple schema, in order
    for col in lake.IcebergFormat.TRIPLE_COLS:
        assert col in insert


def test_iceberg_compact_and_manifest_sql():
    f = lake.IcebergFormat()
    c = f.compact_sql("cat.db.triples", 123)
    assert c.startswith("CALL cat.system.rewrite_data_files(")
    assert "'cat.db.triples'" in c
    assert "sort_order => 'predicate ASC, subject ASC'" in c
    assert "'123'" in c
    m = f.manifest_sql("cat.db.triples")
    assert "FROM cat.db.triples.files" in m
    for col in ("bucket", "n_files", "n_rows", "min_rows_per_file"):
        assert col in m
    assert "predicate" not in m
    assert m.endswith("GROUP BY 1")


# ------------------------------------------- parquet layout metadata

COLS = ("source_url string, subject string, predicate string, "
        "object string, objtype string, lang string, datatype string, "
        "context string")
DATA = ["source_url", "subject", "predicate", "object", "objtype", "lang",
        "datatype", "context"]


def _rows(lo, hi, tag="o"):
    return [("u%d" % i, "s%d" % i, "p%d" % (i % 3), "%s%d" % (tag, i),
             "literal", "", "", "") for i in range(lo, hi)]


def _content(spark, path):
    return sorted(map(tuple,
                      spark.read.parquet(path).select(*DATA).collect()))


def _bucket_files(path):
    """{bucket directory: number of parquet files in it}."""
    return {d: len([f for f in os.listdir(os.path.join(path, d))
                    if f.endswith(".parquet")])
            for d in os.listdir(path) if d.startswith("bucket=")}


def _assert_sorted(path):
    """Every file's rows are in (predicate, subject) order."""
    import pyarrow.parquet as pq
    for d in _bucket_files(path):
        for f in os.listdir(os.path.join(path, d)):
            if f.endswith(".parquet"):
                t = pq.read_table(os.path.join(path, d, f),
                                  columns=["predicate", "subject"])
                keys = list(zip(t["predicate"].to_pylist(),
                                t["subject"].to_pylist()))
                assert keys == sorted(keys), (d, f)


@pytest.fixture
def small_files(monkeypatch):
    # ten rows per file, so a few dozen rows span several buckets
    monkeypatch.setattr(lake, "ROWS_PER_FILE", 10)


def test_bucket_count_is_table_metadata(spark, tmp_path, small_files):
    fmt, path = lake.ParquetBucketFormat(), str(tmp_path / "t")
    fmt.write(spark.createDataFrame(_rows(0, 40), COLS), path)
    with open(os.path.join(path, lake.META)) as f:
        assert json.load(f)["buckets"] == 4
    assert lake.read_buckets(path) == 4
    files = _bucket_files(path)
    assert sorted(files) == ["bucket=%d" % b for b in range(4)]
    assert set(files.values()) == {1}       # one file per bucket
    _assert_sorted(path)
    # a 200-row batch would size 20 buckets; the merge keeps the
    # table's 4 and replaces urls u20..u39 in place
    fmt.merge(spark, spark.createDataFrame(_rows(20, 220, "n"), COLS),
              path)
    assert lake.read_buckets(path) == 4
    assert sorted(_bucket_files(path)) == sorted(files)
    _assert_sorted(path)
    assert _content(spark, path) == sorted(_rows(0, 20)
                                           + _rows(20, 220, "n"))
    # a row's bucket directory is bucket_of its source_url
    df = spark.read.parquet(path)
    assert df.where(F.col("bucket") !=
                    lake.bucket_of(F.col("source_url"), 4)).count() == 0


def test_compact_rebuckets(spark, tmp_path, small_files):
    fmt, path = lake.ParquetBucketFormat(), str(tmp_path / "t")
    fmt.write(spark.createDataFrame(_rows(0, 40), COLS), path)
    fmt.merge(spark, spark.createDataFrame(_rows(40, 120), COLS), path)
    before = _content(spark, path)
    assert lake.read_buckets(path) == 4
    fmt.compact(spark, path)
    assert lake.read_buckets(path) == 12     # 120 rows / 10 per file
    files = _bucket_files(path)
    assert set(files) <= {"bucket=%d" % b for b in range(12)}
    assert set(files.values()) == {1}
    assert _content(spark, path) == before
    m = fmt.manifest(spark, path).collect()
    assert sum(r["n_rows"] for r in m) == 120
    assert all(r["n_files"] == 1 for r in m)


def test_old_layout_rejected_by_merge_until_compacted(spark, tmp_path):
    path = str(tmp_path / "t")
    # the (64 url-hash buckets x predicate) layout, with no _lake.json
    (spark.createDataFrame(_rows(0, 40), COLS)
     .withColumn("bucket", F.pmod(F.xxhash64("source_url"), F.lit(64)))
     .write.partitionBy("bucket", "predicate").parquet(path))
    before = _content(spark, path)
    fmt = lake.ParquetBucketFormat()
    batch = spark.createDataFrame(_rows(0, 5, "n"), COLS)
    with pytest.raises(ValueError, match="compact"):
        fmt.merge(spark, batch, path)
    assert _content(spark, path) == before    # rejected untouched
    fmt.compact(spark, path)
    assert _content(spark, path) == before
    assert lake.read_buckets(path) == 1
    assert not any(d.startswith("predicate=")
                   for _, dirs, _ in os.walk(path) for d in dirs)
    fmt.merge(spark, batch, path)
    assert _content(spark, path) == sorted(_rows(0, 5, "n")
                                           + _rows(5, 40))


def test_read_runs_no_job(spark, tmp_path):
    """``read`` takes the schema from ``_lake.json``: no job infers it
    from the file footers, and the schema is the inferred one."""
    fmt, path = lake.ParquetBucketFormat(), str(tmp_path / "t")
    fmt.write(spark.createDataFrame(_rows(0, 40), COLS), path)
    sc = spark.sparkContext
    sc.setJobGroup("lake-read", "ParquetBucketFormat.read")
    try:
        df = fmt.read(spark, path)
        read_jobs = list(sc.statusTracker().getJobIdsForGroup("lake-read"))
        df.count()      # the tracker sees the group's jobs
        assert sc.statusTracker().getJobIdsForGroup("lake-read")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert read_jobs == []
    assert df.schema == spark.read.parquet(path).schema
    assert sorted(map(tuple, df.select(*DATA).collect())) == \
        _content(spark, path)


def test_read_without_recorded_schema_needs_compact(spark, tmp_path):
    fmt, path = lake.ParquetBucketFormat(), str(tmp_path / "t")
    fmt.write(spark.createDataFrame(_rows(0, 40), COLS), path)
    before = _content(spark, path)
    meta = os.path.join(path, lake.META)
    with open(meta) as f:
        info = json.load(f)
    del info["schema"]
    with open(meta, "w") as f:
        json.dump(info, f)
    with pytest.raises(ValueError, match="compact"):
        fmt.read(spark, path)
    fmt.compact(spark, path)
    assert sorted(map(tuple, fmt.read(spark, path).select(*DATA)
                      .collect())) == before
