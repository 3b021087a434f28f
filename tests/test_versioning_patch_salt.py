"""Version archiving, mkpatch round-trip, salted aggregation."""

from pyspark.sql import functions as F


def test_archive_versions_merge(spark):
    from ferenda_spark.operators.versioning import (archive_versions,
                                                    version_history)
    cur = spark.createDataFrame(
        [("a", "h1", 1), ("b", "h2", 3), ("c", "h3", 1)],
        "url string, content_hash string, version int")
    inc = spark.createDataFrame(
        [("a", "h1"),          # unchanged → keeps version 1
         ("b", "h2x"),         # changed → version 4, old row archived
         ("d", "h4")],         # new → version 1; c absent → kept
        "url string, content_hash string")
    new_current, archived = archive_versions(cur, inc)
    got = {r["url"]: r["version"] for r in new_current.collect()}
    assert got == {"a": 1, "b": 4, "c": 1, "d": 1}
    arch = [(r["url"], r["version"]) for r in archived.collect()]
    assert arch == [("b", 3)]
    hist = [(r["url"], r["version"], r["is_current"])
            for r in version_history(new_current, archived).collect()]
    assert hist == [("a", 1, True), ("b", 3, False), ("b", 4, True),
                    ("c", 1, True), ("d", 1, True)]


def test_archive_versions_first_load(spark):
    from ferenda_spark.operators.versioning import archive_versions
    inc = spark.createDataFrame([("a", "h1")],
                                "url string, content_hash string")
    new_current, archived = archive_versions(None, inc)
    assert [(r["url"], r["version"]) for r in new_current.collect()] == \
        [("a", 1)]
    assert archived.count() == 0


def test_make_patch_roundtrip():
    from ferenda_spark.patch import apply_unified_diff, make_patch, \
        maybe_rot13
    old = "line one\nline two\nline three\nline four\nline five"
    new = "line one\nline 2\nline three\nline four\nadded\nline five"
    diff = make_patch(old, new)
    assert apply_unified_diff(old, diff) == new
    r13 = make_patch(old, new, rot13=True)
    assert r13.startswith("ROT13:")
    assert apply_unified_diff(old, maybe_rot13(r13)) == new


def test_salted_agg_equals_plain_groupby(spark):
    from ferenda_spark.operators.util import salted_agg
    from ferenda_spark import pages as P
    pages = P.build_pages(spark, 120, 4).select(
        F.regexp_extract("url", r"^(https?://[^/]+)", 1).alias("host"),
        F.length("html").alias("n_bytes"))
    plain = {r["host"]: (r["n"], r["total"])
             for r in pages.groupBy("host")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum("n_bytes").alias("total")).collect()}
    salted = {r["host"]: (r["n"], r["total"])
              for r in salted_agg(pages, ["host"],
                                  {"n": ("n_bytes", "count"),
                                   "total": ("n_bytes", "sum")}).collect()}
    assert salted == plain
    # the corpus's hot-host skew is present (the thing salting defuses)
    assert "http://hot.example.org" in plain


def test_atom_feeds_render(spark):
    """Every feed renders to well-formed Atom 1.0 with id/title/updated
    and one entry element per selected row (≙ news_write_atom)."""
    import xml.etree.ElementTree as ET
    from ferenda_spark.operators.facetlib import default_facets
    from ferenda_spark.operators.news import (atom_feeds,
                                              news_feedsets,
                                              news_select_for_feeds)
    ne = spark.createDataFrame(
        [("http://e.org/1", "http://purl.org/ontology/bibo/Standard",
          "Doc One", "d1.html", "Doc One", "2014-01-04 00:00:01"),
         ("http://e.org/2", "http://purl.org/ontology/bibo/Standard",
          "Doc Two", "d2.html", "Doc Two", "2014-01-05 00:00:02")],
        "uri string, rdf_type string, dcterms_title string, url string, "
        "entry_title string, updated string")
    facets = default_facets()
    feedsets = news_feedsets(ne, facets)
    entries = news_select_for_feeds(ne, facets)
    feeds = {r["slug"]: r for r in atom_feeds(entries, feedsets).collect()}
    assert "main" in feeds and feeds["main"]["n_entries"] == 2
    ns = "{http://www.w3.org/2005/Atom}"
    root = ET.fromstring(feeds["main"]["atom_xml"])
    assert root.tag == ns + "feed"
    assert root.find(ns + "title").text == "All documents"
    assert root.find(ns + "updated").text == "2014-01-05 00:00:02"
    es = root.findall(ns + "entry")
    assert [e.find(ns + "id").text for e in es] == \
        ["http://e.org/2", "http://e.org/1"]  # updated desc
    tf = feeds["type/standard"]
    assert tf["n_entries"] == 2
    assert "bibo:Standard" in tf["title"]


def test_triple_diff_golden(spark):
    from ferenda_spark.operators.versioning import triple_diff
    schema = ("source_url string, subject string, predicate string, "
              "object string")
    old = spark.createDataFrame(
        [("u1", "s1", "p", "kept"),
         ("u1", "s1", "p", "gone"),
         ("u2", "s2", "p", "dup"), ("u2", "s2", "p", "dup")], schema)
    new = spark.createDataFrame(
        [("u1", "s1", "p", "kept"),
         ("u1", "s1", "p", "fresh"),
         ("u2", "s2", "p", "dup")], schema)
    got = [(r["change"], r["source_url"], r["object"])
           for r in triple_diff(old, new).collect()]
    # set semantics: the duplicate (u2…dup) rows collapse, no diff row
    assert got == [("added", "u1", "fresh"), ("removed", "u1", "gone")]


def test_temporal_intervals_islands(spark):
    """Presence intervals: continuous run, close-at-drop, re-add as a
    second island, FAR_FUTURE sentinel on the newest crawl."""
    from ferenda_spark.operators.versioning import (FAR_FUTURE,
                                                    temporal_intervals)
    rows = []
    for ts, triples in [
        ("2026-01-01", ["stay", "dropped", "flicker"]),
        ("2026-02-01", ["stay", "added"]),
        ("2026-03-01", ["stay", "added", "flicker"]),
    ]:
        rows += [("u", s, "p", "o", ts) for s in triples]
    df = spark.createDataFrame(
        rows, "source_url string, subject string, predicate string, "
              "object string, crawl_ts string")
    got = {(r.subject, r.valid_from, r.valid_to)
           for r in temporal_intervals(df).collect()}
    assert got == {
        ("stay", "2026-01-01", FAR_FUTURE),
        ("dropped", "2026-01-01", "2026-02-01"),
        ("added", "2026-02-01", FAR_FUTURE),
        ("flicker", "2026-01-01", "2026-02-01"),
        ("flicker", "2026-03-01", FAR_FUTURE),
    }


def test_asof_equals_snapshot(spark):
    """As-of any instant inside crawl i's currency window ≡ crawl i's
    snapshot — the identity the kg_asof oracle states."""
    import random

    from ferenda_spark.operators.versioning import (temporal_intervals,
                                                    triples_asof)
    rng = random.Random(7)
    crawls = ["2026-0%d-01" % i for i in range(1, 5)]
    rows = []
    snap = {}
    for ts in crawls:
        present = {("u%d" % i, "s%d" % i, "p", "o")
                   for i in range(20) if rng.random() < 0.6}
        snap[ts] = present
        rows += [t + (ts,) for t in present]
    df = spark.createDataFrame(
        rows, "source_url string, subject string, predicate string, "
              "object string, crawl_ts string")
    iv = temporal_intervals(df)
    for ts, probe in [("2026-01-01", "2026-01-15"),
                      ("2026-02-01", "2026-02-01"),
                      ("2026-03-01", "2026-03-31"),
                      ("2026-04-01", "2027-06-01")]:
        got = {tuple(r) for r in triples_asof(iv, probe).collect()}
        assert got == snap[ts], probe

