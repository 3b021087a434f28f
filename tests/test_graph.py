"""Connected components, transitive closure, relate joins, lineage."""

import pytest
from pyspark.sql import functions as F

from ferenda_spark import pages as P
from ferenda_spark.graph.closure import transitive_closure
from ferenda_spark.graph.components import connected_components
from ferenda_spark.operators.extract import (documents_table, extract_stage,
                                             triples_table)
from ferenda_spark.operators.lineage import (entries_from_extracted, needed,
                                             stage_counters)
from ferenda_spark.operators.relate import (canonicalize_triples, deps_table,
                                            entities_table,
                                            inbound_references)
from ferenda_spark.uris import RepoConfig

CFG = RepoConfig(alias="doc", url="http://example.org/")


@pytest.mark.parametrize("threshold", [2_000_000, 0],
                         ids=["driver-unionfind", "distributed-stars"])
def test_connected_components_chains_and_hub(spark, threshold):
    """Both CC strategies (driver union-find below the edge-count
    cutoff, alternating large/small-star above) must agree."""
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("e", "d"),
         # hub: many nodes alias into h
         *[("n%02d" % i, "h") for i in range(30)]],
        ["src", "dst"])
    cc = {r["node"]: r["component"]
          for r in connected_components(
              edges, driver_threshold=threshold).collect()}
    assert cc["a"] == cc["b"] == cc["c"] == "a"
    assert cc["d"] == cc["e"] == "d"
    assert all(cc["n%02d" % i] == "h" for i in range(30))


def test_transitive_closure_depth(spark):
    edges = spark.createDataFrame(
        [("s11", "s1"), ("s1", "doc"), ("s2", "doc")], ["src", "dst"])
    pairs = {(r["a"], r["b"]) for r in transitive_closure(edges).collect()}
    assert ("s11", "doc") in pairs          # two hops
    assert ("s11", "s1") in pairs
    assert len(pairs) == 4
    # keyed: one closure per key value, no path crosses from g1 to g2
    keyed = spark.createDataFrame(
        [("g1", "s11", "s1"), ("g1", "s1", "doc"),
         ("g2", "s1", "doc"), ("g2", "doc", "top")], ["g", "src", "dst"])
    got = {tuple(r) for r in transitive_closure(keyed, keys=["g"]).collect()}
    assert got == {("g1", "s11", "s1"), ("g1", "s1", "doc"),
                   ("g1", "s11", "doc"),
                   ("g2", "s1", "doc"), ("g2", "doc", "top"),
                   ("g2", "s1", "top")}


@pytest.fixture(scope="module")
def corpus(spark):
    pages = P.build_pages(spark, 80, partitions=4).cache()
    extracted = extract_stage(pages, CFG, P.COMMONDATA).cache()
    triples = triples_table(extracted).cache()
    docs = documents_table(extracted).cache()
    return pages, extracted, triples, docs


def test_deps_reverse_reference_join(spark, corpus):
    _, _, triples, docs = corpus
    deps = deps_table(triples, docs, CFG)
    rows = {(r["target_url"], r["source_url"]) for r in deps.collect()}
    assert rows
    # f3 doc 5 cites doc (5*7+3) % 80 = 38 → dep (target=38, source=5)
    assert ("http://example.org/doc/38.html",
            "http://example.org/doc/5.txt") in rows
    # rdf:type / owl:sameAs objects excluded: doc 11 sameAs doc 10 must
    # NOT produce a dep edge by itself
    sameas_sources = {s for (t, s) in rows if t == "http://example.org/doc/10.html"
                      and s == "http://example.org/doc/11.html"}
    assert not sameas_sources


def test_inbound_references(spark, corpus):
    _, _, triples, _ = corpus
    inb = inbound_references(triples)
    assert inb.count() > 0
    cols = set(inb.columns)
    assert cols == {"part", "referenced_by"}


def test_canonicalization(spark, corpus):
    _, _, triples, _ = corpus
    ent = entities_table(triples)
    m = {r["uri"]: r["canonical_id"] for r in ent.collect()}
    # chain: doc 11 → doc 10; doc 12 → doc 11 ⇒ all share min (doc 10...)
    # f2 indices with i%10 in (1,2): 11,12 chain to 10; and 21,22 to 20...
    assert m["http://example.org/res/doc/11"] == m["http://example.org/res/doc/12"] \
        == m["http://example.org/res/doc/10"]
    # hub: i%20==2 → 2,22,42,62 alias doc 0's uri (and chain into their
    # own decades), merging those chains into doc 0's component
    assert m["http://example.org/res/doc/22"] == m["http://example.org/res/doc/42"] \
        == m["http://example.org/res/doc/0"]
    canon = canonicalize_triples(triples)
    # no subject remains that is a non-representative alias
    aliased = {u for u, c in m.items() if u != c}
    left = canon.where(F.col("subject").isin(list(aliased))).count()
    assert left == 0


def test_incremental_needed_and_counters(spark, corpus):
    pages, extracted, _, _ = corpus
    entries = entries_from_extracted(extracted, pages, "parse", "run1").cache()
    assert needed(pages, entries).count() == 0           # all done
    assert needed(pages, None).count() == 80             # cold start
    # drop half the entries → exactly the other half is needed
    partial = entries.where(F.col("url").contains(".txt"))
    n_txt = partial.count()
    assert needed(pages, partial).count() == 80 - n_txt
    counters = {(r["stage"], r["status"]): r["n_urls"]
                for r in stage_counters(entries).collect()}
    assert counters[("parse", "ok")] == 80


def _cc_dict(df):
    return {r["node"]: r["component"] for r in df.collect()}


def test_incremental_components_equals_full(spark):
    """Random split: folding a batch into bootstrap assignments must
    equal from-scratch CC over all edges — merge, relabel and
    new-node paths all hit."""
    import random

    from ferenda_spark.graph.components import incremental_components
    rng = random.Random(42)
    edges = [("n%02d" % rng.randrange(40), "n%02d" % rng.randrange(40))
             for _ in range(60)]
    edges = [e for e in edges if e[0] != e[1]]
    cut = len(edges) * 2 // 3
    as_df = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "src string, dst string")
    base = (connected_components(as_df(edges[:cut]))
            .select("node", "component"))
    got = incremental_components(base, as_df(edges[cut:]))
    want = connected_components(as_df(edges))
    assert _cc_dict(got) == _cc_dict(want)


def test_incremental_components_empty_batch(spark):
    from ferenda_spark.graph.components import incremental_components
    e = spark.createDataFrame([("a", "b"), ("b", "c")],
                              "src string, dst string")
    base = connected_components(e).select("node", "component")
    got = incremental_components(base, e.limit(0))
    assert _cc_dict(got) == _cc_dict(base)


def test_incremental_components_all_new_and_bridge(spark):
    """A batch that creates a brand-new component AND bridges two
    existing ones; representatives stay the global min member."""
    from ferenda_spark.graph.components import incremental_components
    base_edges = spark.createDataFrame(
        [("a", "b"), ("x", "y")], "src string, dst string")
    base = connected_components(base_edges).select("node", "component")
    batch = spark.createDataFrame(
        [("p", "q"),            # all-new component
         ("b", "y"),            # bridges {a,b} and {x,y} → min 'a'
         ("y", "z")],           # new node joins the merged component
        "src string, dst string")
    got = _cc_dict(incremental_components(base, batch))
    assert got == {"a": "a", "b": "a", "x": "a", "y": "a", "z": "a",
                   "p": "p", "q": "p"}

