"""Lineage, incremental skip, kill/resume, and streaming ingestion."""

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def pages(spark):
    from ferenda_spark.pages import build_pages
    return build_pages(spark, 60, 4).cache()


def _extract(pages_df):
    from ferenda_spark.operators.extract import extract_stage
    from ferenda_spark.pages import COMMONDATA
    from ferenda_spark.uris import RepoConfig
    return extract_stage(pages_df,
                         RepoConfig(alias="doc", url="http://example.org/"),
                         COMMONDATA)


def test_needed_anti_join(spark, pages):
    from ferenda_spark.operators.lineage import (entries_from_extracted,
                                                 needed)
    done_pages = pages.where(F.col("url").contains("1"))
    entries = entries_from_extracted(_extract(done_pages), done_pages,
                                     "parse", "r0")
    todo = needed(pages, entries, "parse")
    assert todo.count() == pages.count() - done_pages.count()
    # re-offering identical content → nothing to do
    all_entries = entries_from_extracted(_extract(pages), pages,
                                         "parse", "r1")
    assert needed(pages, all_entries, "parse").count() == 0


def test_kill_resume_produces_identical_triples(spark, pages, tmp_path):
    """Simulated mid-run kill: half the corpus was processed and
    checkpointed; the resumed run must touch only the rest, and the
    union must equal a from-scratch run exactly."""
    from ferenda_spark.operators.extract import triples_table
    from ferenda_spark.operators.lineage import (entries_from_extracted,
                                                 merge_triples, needed,
                                                 write_triples)
    path = str(tmp_path / "triples")
    first_half = pages.where(F.xxhash64("url") % 2 == 0)
    ex1 = _extract(first_half)
    write_triples(triples_table(ex1, "kg"), path)
    entries = entries_from_extracted(ex1, first_half, "parse", "r0")

    todo = needed(pages, entries, "parse")
    assert todo.count() == pages.count() - first_half.count()
    merge_triples(spark, triples_table(_extract(todo), "kg"), path)

    resumed = spark.read.parquet(path)
    scratch = triples_table(_extract(pages), "kg")
    cols = ["subject", "predicate", "object", "objtype", "lang",
            "datatype", "source_url"]
    assert resumed.count() == scratch.count()
    assert resumed.select(cols).exceptAll(scratch.select(cols)).count() == 0


def test_merge_triples_overwrites_changed_url_only(spark, pages, tmp_path):
    from ferenda_spark.operators.extract import triples_table
    from ferenda_spark.operators.lineage import merge_triples, write_triples
    path = str(tmp_path / "triples")
    t = triples_table(_extract(pages), "kg").cache()
    write_triples(t, path)
    url = t.select("source_url").first()[0]
    changed = t.where(F.col("source_url") == url) \
               .withColumn("object", F.lit("CHANGED"))
    merge_triples(spark, changed, path)
    after = spark.read.parquet(path)
    assert after.count() == t.count()
    assert (after.where(F.col("source_url") == url)
            .select("object").distinct().collect()[0][0] == "CHANGED")
    cols = ["subject", "predicate", "object", "objtype", "source_url"]
    unchanged = after.where(F.col("source_url") != url).select(cols)
    orig = t.where(F.col("source_url") != url).select(cols)
    assert unchanged.exceptAll(orig).count() == 0


def test_merge_drops_stale_predicate_partitions(spark, pages, tmp_path):
    """A re-parsed url that stops emitting a predicate must leave no
    stale rows behind, even when no other url in its bucket carries
    that predicate (the leaf-overwrite trap the whole-bucket replace
    exists for)."""
    from ferenda_spark.operators.extract import triples_table
    from ferenda_spark.operators.lineage import merge_triples, write_triples
    path = str(tmp_path / "triples")
    t = triples_table(_extract(pages), "kg").cache()
    url = t.select("source_url").first()[0]
    # unique-to-this-url predicate so its (bucket, pred) leaf empties
    seeded = t.unionByName(
        t.where(F.col("source_url") == url).limit(1)
         .withColumn("predicate", F.lit("http://example.org/only-here")))
    write_triples(seeded, path)
    changed = t.where(F.col("source_url") == url)   # no only-here row
    merge_triples(spark, changed, path)
    after = spark.read.parquet(path)
    assert after.where(
        F.col("predicate") == "http://example.org/only-here").count() == 0
    assert after.count() == t.count()


def test_sparql_scan_pushes_predicate_into_sorted_files(spark, pages,
                                                      tmp_path):
    """A predicate-bound SPARQL pattern scan hands the predicate
    equality to the parquet reader as a pushed filter, and every file
    the lake writes is sorted by (predicate, subject), so row-group
    min/max statistics can skip the other predicates' rows."""
    import glob

    import pyarrow.parquet as pq

    from ferenda_spark import sparql
    from ferenda_spark.operators.extract import triples_table
    from ferenda_spark.operators.lineage import write_triples
    path = str(tmp_path / "triples")
    write_triples(triples_table(_extract(pages), "kg"), path)
    q = ("PREFIX dct: <http://purl.org/dc/terms/> "
         "SELECT ?s ?o WHERE { ?s dct:title ?o }")
    df = sparql.compile_spark(spark.read.parquet(path), q)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert scan and "EqualTo(predicate," in scan[0].split(
        "PushedFilters")[1], plan
    assert df.count() > 0
    files = glob.glob(os.path.join(path, "bucket=*", "*.parquet"))
    assert files
    for f in files:
        t = pq.read_table(f, columns=["predicate", "subject"])
        keys = list(zip(t["predicate"].to_pylist(),
                        t["subject"].to_pylist()))
        assert keys == sorted(keys), f


def test_prov_triples_golden(spark):
    """PROV-O emission: ok rows generate, failed rows invalidate, one
    Activity per (run, stage), timestamps only for ok rows — and the
    result is queryable through the same SPARQL surface."""
    from ferenda_spark.operators.lineage import PROV, prov_triples
    entries = spark.createDataFrame(
        [("u1", "parse", "ok", None, "h1", "r1"),
         ("u2", "parse", "fail", "boom", "h2", "r1")],
        "url string, stage string, status string, error string, "
        "content_hash string, run_id string")
    meta = spark.createDataFrame(
        [("u1", "2026-01-01 00:00:00"), ("u2", "2026-01-01 00:00:00")],
        "url string, warc_ts string")
    got = {(r.subject, r.predicate, r.object)
           for r in prov_triples(entries, meta).collect()}
    act = "urn:run:r1:parse"
    rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    assert got == {
        ("u1#parse", rdf_type, PROV + "Entity"),
        ("u2#parse", rdf_type, PROV + "Entity"),
        ("u1#parse", PROV + "wasDerivedFrom", "u1"),
        ("u2#parse", PROV + "wasDerivedFrom", "u2"),
        ("u1#parse", PROV + "wasGeneratedBy", act),
        ("u1#parse", PROV + "generatedAtTime", "2026-01-01 00:00:00"),
        ("u2#parse", PROV + "wasInvalidatedBy", act),
        (act, rdf_type, PROV + "Activity"),
    }
    # the provenance graph answers SPARQL like any other triples
    from ferenda_spark import sparql
    t = prov_triples(entries, meta) \
        .withColumn("lang", F.lit("")) \
        .withColumn("datatype", F.lit("")) \
        .withColumn("context", F.lit(""))
    rows = sparql.compile_spark(t, """
        PREFIX prov: <http://www.w3.org/ns/prov#>
        SELECT ?doc WHERE {
          ?a prov:wasInvalidatedBy ?act ; prov:wasDerivedFrom ?doc }
    """).collect()
    assert [r["doc"] for r in rows] == ["u2"]


def test_compact_triples_roundtrip(spark, tmp_path):
    """Fragmented bucket partitions compact to one file each with the
    content multiset unchanged."""
    from ferenda_spark.lake import bucket_of, read_buckets
    from ferenda_spark.operators.lineage import (compact_triples,
                                                 table_manifest,
                                                 write_triples)
    cols = ("source_url string, subject string, predicate string, "
            "object string, objtype string, lang string, "
            "datatype string, context string")
    rows = [("u%d" % i, "s%d" % i, "p%d" % (i % 2), "o%d" % i,
             "literal", "", "", "") for i in range(40)]
    path = str(tmp_path / "triples")
    write_triples(spark.createDataFrame(rows[:30], cols), path)
    # two append writes (the streaming-sink path) fragment partitions
    n = read_buckets(path)
    for lo, hi in ((30, 35), (35, 40)):
        (spark.createDataFrame(rows[lo:hi], cols)
         .withColumn("bucket", bucket_of(F.col("source_url"), n))
         .repartition("bucket")
         .write.partitionBy("bucket")
         .mode("append").parquet(path))
    before = sorted(map(tuple, spark.read.parquet(path).collect()))
    m = table_manifest(spark, path).collect()
    assert any(r["n_files"] > 1 for r in m), "fixture failed to fragment"
    compact_triples(spark, path)
    after = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert after == before
    m2 = table_manifest(spark, path).collect()
    assert all(r["n_files"] == 1 for r in m2)
    assert sum(r["n_rows"] for r in m2) == sum(r["n_rows"] for r in m)
