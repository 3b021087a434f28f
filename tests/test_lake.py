"""Table-format seam (ferenda_spark.lake, VERDICT r4 #5).

The ParquetBucketFormat write/merge/compact/manifest behavior is
covered end-to-end by tests/test_lineage_streaming.py, which now runs
THROUGH the seam (operators.lineage delegates every lake write to
get_table_format()). Here: the seam's routing contract and the
IcebergFormat statement emission, which must be auditable without an
Iceberg runtime."""

import os

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
    sql, order = f.write_sql("cat.db.triples", "src_view")
    assert "CREATE OR REPLACE TABLE cat.db.triples" in sql
    assert "USING iceberg" in sql
    assert "bucket(%d, source_url)" % lake.N_BUCKETS in sql
    assert "predicate" in sql
    assert sql.endswith("AS SELECT * FROM src_view")
    # Iceberg has no 'sort-order' table property: the sort order is
    # set by its own DDL statement
    assert "sort-order" not in sql
    assert order == "ALTER TABLE cat.db.triples WRITE ORDERED BY subject ASC"


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
    assert "subject ASC" in c
    assert "'123'" in c
    m = f.manifest_sql("cat.db.triples")
    assert "FROM cat.db.triples.files" in m
    for col in ("bucket", "predicate", "n_files", "n_rows",
                "min_rows_per_file"):
        assert col in m
