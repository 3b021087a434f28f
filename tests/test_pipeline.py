"""The production build as a library call (ferenda_spark.pipeline.run):
its tables equal the stage functions composed one by one, its counters
are right on cold, no-change and partly changed re-runs, it extracts
once, and it leaves nothing cached."""

import os

import pytest
from pyspark.sql import functions as F

import ferenda_spark.pages as P
from ferenda_spark import pipeline
from ferenda_spark.operators import extract, lineage, relate

N = 24
CFG = pipeline.CFG
TABLES = ("documents", "resources", "triples", "canonical_triples",
          "entities", "deps", "entries")


@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pipeline") / "pages")
    P.build_pages(spark, N, 4).write.parquet(d)
    return d


def _rows(df):
    return {tuple(r) for r in df.select(sorted(df.columns)).collect()}


def _table(spark, out, name):
    return spark.read.parquet(os.path.join(out, name)).drop("bucket")


def _run(spark, pages_dir, out, run_id):
    return pipeline.run(spark, spark.read.parquet(pages_dir), out, run_id)


def test_tables_equal_the_composed_stages(spark, pages_dir, tmp_path):
    out = str(tmp_path / "kg")
    _run(spark, pages_dir, out, "r1")
    todo = lineage.needed(spark.read.parquet(pages_dir), None)
    ext = extract.extract_stage(todo, CFG, P.COMMONDATA)
    triples = extract.triples_table(ext, context="kg")
    docs = extract.documents_table(ext)
    expected = {
        "documents": docs,
        "resources": extract.resources_table(ext),
        "triples": triples,
        "canonical_triples": relate.canonicalize_triples(triples),
        "entities": relate.entities_table(triples),
        "deps": relate.deps_table(triples, docs, CFG),
        "entries": lineage.entries_from_extracted(ext, todo, "parse", "r1"),
    }
    assert set(expected) == set(TABLES)
    for name, want in expected.items():
        want = _rows(want)
        assert want, name
        assert _rows(_table(spark, out, name)) == want, name


def test_counters_cold_unchanged_and_changed(spark, pages_dir, tmp_path):
    out = str(tmp_path / "kg")
    cold = _run(spark, pages_dir, out, "r1")
    cold_triples = _rows(_table(spark, out, "triples"))
    assert (cold["processed"], cold["skipped_fresh"], cold["triples"]) \
        == (N, 0, len(cold_triples))
    assert cold["counters"] == {"parse/ok": N}

    again = _run(spark, pages_dir, out, "r2")
    assert (again["processed"], again["skipped_fresh"], again["triples"]) \
        == (0, N, len(cold_triples))

    # the three html pages richest in triples change: two by a
    # trailing space, one to an empty page
    urls = [r["source_url"] for r in _table(spark, out, "triples")
            .where(~F.col("source_url").endswith(".txt"))
            .groupBy("source_url").count()
            .orderBy(F.desc("count"), "source_url").limit(3).collect()]
    pages = spark.read.parquet(pages_dir)
    html = (F.when(F.col("url") == urls[0],
                   F.lit("<html><head></head><body></body></html>"))
            .when(F.col("url").isin(urls),
                  F.concat(F.col("html").cast("string"), F.lit(" ")))
            .otherwise(F.col("html").cast("string")).cast("binary"))
    changed_dir = str(tmp_path / "pages2")
    pages.withColumn("html", html).write.parquet(changed_dir)
    part = _run(spark, changed_dir, out, "r3")
    fresh = str(tmp_path / "fresh")
    full = _run(spark, changed_dir, fresh, "f1")
    assert (part["processed"], part["skipped_fresh"]) == (3, N - 3)
    merged = _rows(_table(spark, out, "triples"))
    assert merged == _rows(_table(spark, fresh, "triples")) != cold_triples
    assert part["triples"] == full["triples"] == len(merged)


def test_unparseable_rfc_page_is_one_parse_failure(spark, pages_dir,
                                                   tmp_path):
    """An RFC (.txt) page whose body no recognizer matches fails alone:
    one parse/fail entry, and the build finishes with the other pages
    ok."""
    bad = P.BASE_URL + "doc/4.txt"
    pages = spark.read.parquet(pages_dir).withColumn(
        "html", F.when(F.col("url") == bad,
                       F.lit("<html><head></head><body></body></html>")
                       .cast("binary")).otherwise(F.col("html")))
    assert pages.where(F.col("url") == bad).count() == 1
    res = pipeline.run(spark, pages, str(tmp_path / "kg"), "r1")
    assert res["counters"] == {"parse/ok": N - 1, "parse/fail": 1}


def test_extracts_once_and_releases_the_cache(spark, pages_dir, tmp_path,
                                              monkeypatch):
    plans = {}

    def spy(module, name):
        orig = getattr(module, name)

        def wrapper(*args, **kwargs):
            df = orig(*args, **kwargs)
            plans[name] = df._jdf.queryExecution().executedPlan().toString()
            return df
        monkeypatch.setattr(module, name, wrapper)

    for name in ("triples_table", "documents_table", "resources_table"):
        spy(extract, name)
    spy(lineage, "entries_from_extracted")
    spark.catalog.clearCache()
    _run(spark, pages_dir, str(tmp_path / "kg"), "r1")
    assert len(plans) == 4
    for name, plan in plans.items():
        # every output reads the one persisted extraction: its plan
        # scans the cached relation, whose own plan holds the only
        # Python map
        assert "InMemoryTableScan" in plan, (name, plan)
        assert plan.count("MapInPandas") == 1, (name, plan)
        assert plan.index("InMemoryRelation") < plan.index("MapInPandas"), \
            (name, plan)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
