"""Citation-graph analytics and pre-parse patching."""

import pytest
from pyspark.sql import functions as F

from ferenda_spark.patch import apply_unified_diff, maybe_rot13, patch_text


DIFF = """--- a
+++ b
@@ -1,3 +1,3 @@
 line one
-line two
+line TWO
 line three
"""


def test_apply_unified_diff():
    assert apply_unified_diff("line one\nline two\nline three", DIFF) == \
        "line one\nline TWO\nline three"
    with pytest.raises(ValueError):
        apply_unified_diff("other\ncontent\nhere", DIFF)


def test_rot13_and_patch_text():
    import codecs
    rot = "ROT13:" + codecs.encode(DIFF, "rot13")
    assert maybe_rot13(rot) == DIFF
    text, desc = patch_text("u1", "line one\nline two\nline three",
                            {"u1": (DIFF, "fix casing")})
    assert text.split("\n")[1] == "line TWO"
    assert desc == "fix casing"
    same, none = patch_text("u2", "x", {"u1": (DIFF, "d")})
    assert same == "x" and none is None


def test_patched_extraction(spark):
    """A broadcast patch changes the parsed output for exactly its url."""
    from ferenda_spark import pages as P
    from ferenda_spark.operators.extract import (documents_table,
                                                 extract_stage)
    from ferenda_spark.uris import RepoConfig
    cfg = RepoConfig(alias="doc", url="http://example.org/")
    pages = P.build_pages(spark, 12, 2)
    row = P.page_row(1, 12)  # f2 family html
    old = row["html"].decode()
    target = next(ln for ln in old.split("\n")
                  if "Example document 1" in ln)
    diff = ("--- a\n+++ b\n@@ -%d,1 +%d,1 @@\n-%s\n+%s\n"
            % (old.split("\n").index(target) + 1,
               old.split("\n").index(target) + 1,
               target, target.replace("Example document 1", "PATCHED TITLE")))
    patches = {row["url"]: (diff, "retitle")}
    docs = {r["url"]: r for r in
            documents_table(extract_stage(pages, cfg, P.COMMONDATA,
                                          patches=patches)).collect()}
    assert docs[row["url"]]["title"] == "PATCHED TITLE"
    assert docs[P.page_row(2, 12)["url"]]["title"] != "PATCHED TITLE"


def test_citation_graph_pagerank(spark):
    from ferenda_spark.operators.graphops import (citation_edges, degrees,
                                                  pagerank)
    triples = spark.createDataFrame(
        [(s, "http://purl.org/dc/terms/references", o, "uri")
         for s, o in [("a", "b"), ("c", "b"), ("d", "b"), ("b", "e"),
                      ("e", "a")]],
        ["subject", "predicate", "object", "objtype"])
    edges = citation_edges(triples)
    deg = {r["node"]: (r["out_degree"], r["in_degree"])
           for r in degrees(edges).collect()}
    assert deg["b"] == (1, 3)
    assert deg["a"] == (1, 1)
    ranks = {r["node"]: r["rank"] for r in pagerank(edges).collect()}
    # b has fan-in 3 → highest rank; sink-free cycle keeps mass finite
    assert max(ranks, key=ranks.get) == "b"
    assert all(v > 0 for v in ranks.values())


def test_hits(spark):
    from ferenda_spark.operators.graphops import citation_edges, hits
    triples = spark.createDataFrame(
        [(s, "http://purl.org/dc/terms/references", o, "uri")
         for s, o in [("h1", "a1"), ("h1", "a2"), ("h1", "a3"),
                      ("h2", "a1"), ("h2", "a2"), ("x", "a3")]],
        ["subject", "predicate", "object", "objtype"])
    got = {r["node"]: (r["hub"], r["authority"])
           for r in hits(citation_edges(triples)).collect()}
    # h1 links to every authority → top hub; a1/a2 cited by both strong
    # hubs → top authorities
    assert max(got, key=lambda n: got[n][0]) == "h1"
    assert max(got, key=lambda n: got[n][1]) in ("a1", "a2")
    assert got["a1"][1] == got["a2"][1]


def test_keyword_hubs(spark):
    from ferenda_spark.operators.graphops import keyword_hubs
    triples = spark.createDataFrame(
        [("d1", "http://purl.org/dc/terms/subject", "Spark [x]", "literal"),
         ("d2", "http://purl.org/dc/terms/subject", "Spark x", "literal"),
         ("d3", "http://purl.org/dc/terms/subject", "Graphs", "literal")],
        ["subject", "predicate", "object", "objtype"])
    hubs = {r["term"]: r for r in keyword_hubs(triples).collect()}
    # sanitize drops []{}|#<>& → both docs land on 'Spark x'
    assert hubs["Spark x"]["n_docs"] == 2
    assert hubs["Graphs"]["docs"] == ["d3"]


def test_void_stats_hand_values(spark, tmp_path):
    """VoID partitions over a 5-triple graph with hand-counted
    numbers + DuckDB twin parity."""
    import duckdb
    from ferenda_spark.namespaces import RDF_TYPE
    from ferenda_spark.operators.graphops import void_stats, sql_void_stats
    EX = "http://example.org/"
    data = [
        (EX + "a", RDF_TYPE, EX + "Doc", "uri"),
        (EX + "b", RDF_TYPE, EX + "Doc", "uri"),
        (EX + "a", EX + "title", "A", "literal"),
        (EX + "a", EX + "ref", EX + "b", "uri"),
        (EX + "x", EX + "title", "X", "literal"),  # untyped subject
    ]
    df = spark.createDataFrame(
        data, "subject string, predicate string, object string, "
              "objtype string")
    rows = {(r.partition, r.key): (r.n_triples, r.n_subjects,
                                   r.n_objects)
            for r in void_stats(df).collect()}
    assert rows[("dataset", None)] == (5, 3, 4)
    assert rows[("property", RDF_TYPE)] == (2, 2, 1)
    assert rows[("property", EX + "title")] == (2, 2, 2)
    assert rows[("class", EX + "Doc")] == (4, 2, 3)  # a:3 + b:1 triples
    p = str(tmp_path / "t.parquet")
    df.write.mode("overwrite").parquet(p)
    oracle = {(r[0], r[1]): tuple(r[2:]) for r in duckdb.sql(
        sql_void_stats("read_parquet('%s/*.parquet')" % p)).fetchall()}
    assert oracle == rows


# --- triangle counting + label propagation -------------------------------

_TRI_EDGES = [("A", "B"), ("B", "C"), ("C", "A"),   # triangle ABC
              ("B", "D"), ("D", "C"),               # triangle BCD
              ("E", "F")]                           # no triangle


def _tri_triples_df(spark):
    rows = [(s, "http://purl.org/dc/terms/references", o, "uri")
            for s, o in _TRI_EDGES]
    return spark.createDataFrame(
        rows, "subject string, predicate string, object string, "
              "objtype string")


def _py_triangles(edges):
    und = {tuple(sorted(p)) for p in edges if p[0] != p[1]}
    nodes = {x for p in und for x in p}
    adj = {n: set() for n in nodes}
    for a, b in und:
        adj[a].add(b); adj[b].add(a)
    count = {n: 0 for n in nodes}
    for a, b in und:
        for c in adj[a] & adj[b]:
            count[c] += 1
    return {n: c // 1 for n, c in count.items()}


def _py_lpa(edges, rounds=4):
    und = {tuple(sorted(p)) for p in edges if p[0] != p[1]}
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    labels = {n: n for n in adj}
    for _ in range(rounds):
        nxt = {}
        for n, nbrs in adj.items():
            votes = {}
            for m in nbrs:
                votes[labels[m]] = votes.get(labels[m], 0) + 1
            nxt[n] = min(votes, key=lambda l: (-votes[l], l))
        labels = nxt
    return labels


def test_triangle_counts_golden(spark):
    from ferenda_spark.operators.graphops import (citation_edges,
                                                  triangle_counts)
    got = {r["node"]: r["triangles"] for r in
           triangle_counts(citation_edges(_tri_triples_df(spark)))
           .collect()}
    # each undirected wedge-closing counts the triangle once per member
    assert got == {"A": 1, "B": 2, "C": 2, "D": 1, "E": 0, "F": 0}
    assert got == _py_triangles(_TRI_EDGES)


def test_label_propagation_golden(spark):
    from ferenda_spark.operators.graphops import (citation_edges,
                                                  label_propagation)
    got = {r["node"]: r["label"] for r in
           label_propagation(citation_edges(_tri_triples_df(spark)))
           .collect()}
    assert got == _py_lpa(_TRI_EDGES)
    # E-F is a 2-cycle: synchronous updates oscillate, and the fixed
    # 4-round contract lands on the identity labeling
    assert got["E"] == "E" and got["F"] == "F"


def _random_citation_triples(n_nodes=40, n_edges=160, seed=7):
    import random
    rng = random.Random(seed)
    rows = []
    for _ in range(n_edges):
        s, o = rng.sample(range(n_nodes), 2)
        rows.append((f"n{s:02d}", "http://purl.org/dc/terms/references",
                     f"n{o:02d}", "uri"))
    return rows


def test_triangles_and_lpa_oracle_parity(spark, tmp_path):
    """The Spark operators must match kgoracle's DuckDB twins
    bit-for-bit on a random graph (same tie-breaks, same rounds)."""
    import duckdb
    from ferenda_spark import kgoracle
    from ferenda_spark.operators.graphops import (
        citation_edges, label_propagation, triangle_counts)
    rows = _random_citation_triples()
    df = spark.createDataFrame(
        rows, "subject string, predicate string, object string, "
              "objtype string")
    pq = str(tmp_path / "triples.parquet")
    df.toPandas().to_parquet(pq)
    paths = {"triples": pq}
    con = duckdb.connect()
    tri_oracle = con.execute(kgoracle.sql_triangles(paths)).fetchall()
    tri_spark = [(r["node"], r["triangles"]) for r in
                 triangle_counts(citation_edges(df)).collect()]
    assert tri_spark == tri_oracle
    lpa_oracle = con.execute(kgoracle.sql_communities(paths)).fetchall()
    lpa_spark = [(r["node"], r["label"]) for r in
                 label_propagation(citation_edges(df)).collect()]
    assert lpa_spark == lpa_oracle


def test_host_graph_rollup_rules(spark):
    """Host normalization (case, www., port-free by charclass),
    schemeless drop, intra-host drop, and page-edge weighting."""
    from ferenda_spark.operators.graphops import host_graph
    edges = spark.createDataFrame([
        ("https://WWW.A.example/p/1", "https://b.example/x"),
        ("https://a.example:8080/p/2", "https://B.EXAMPLE/y"),  # port
        ("https://a.example/p/3", "https://www.a.example/q"),   # intra
        ("mailto:x@a.example", "https://b.example/z"),          # no src
        ("https://c.example/", "ftp://b.example/f"),            # no dst
        ("https://c.example/1", "https://b.example/w"),
    ], "src string, dst string")
    got = [(r["src_host"], r["dst_host"], r["weight"])
           for r in host_graph(edges).collect()]
    # note the :8080 row: '[A-Za-z0-9.-]+' stops at ':', so the host
    # is 'a.example' — ports never split a host into a new node
    assert got == [("a.example", "b.example", 2),
                   ("c.example", "b.example", 1)]


def test_personalized_pagerank_semantics(spark):
    """Uniform seeds reduce exactly to classic pagerank; a biased
    seed concentrates mass on its neighborhood; both hybrid branches
    agree."""
    from ferenda_spark.operators.graphops import (pagerank,
                                                  personalized_pagerank)
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"),        # cycle
         ("x", "y"), ("y", "x"),                    # separate pair
         ("c", "x")],
        "src string, dst string")
    nodes = spark.createDataFrame(
        [(n,) for n in "abcxy"], "node string")
    uniform = {r["node"]: r["rank"] for r in
               personalized_pagerank(edges, nodes).collect()}
    classic = {r["node"]: r["rank"] for r in pagerank(edges).collect()}
    assert uniform == classic
    seeds = spark.createDataFrame([("x",)], "node string")
    biased = {r["node"]: r["rank"] for r in
              personalized_pagerank(edges, seeds).collect()}
    # teleport mass lands only in the x/y neighborhood; a/b/c decay
    # toward 0 (they are upstream of x, never reached from it)
    assert biased["x"] > uniform["x"] and biased["y"] > uniform["y"]
    assert biased["a"] < 0.05 and biased["b"] < 0.05
    dist = {r["node"]: r["rank"] for r in
            personalized_pagerank(edges, seeds,
                                  driver_threshold=0).collect()}
    assert dist == biased
    import pytest as _pytest
    with _pytest.raises(ValueError):
        personalized_pagerank(
            edges, spark.createDataFrame([("zz",)], "node string"))


def test_random_walks_deterministic(spark):
    """Every node starts walks_per_node walks at step 0; walks stop at
    sinks; steps follow edges; re-runs (and different partitionings)
    reproduce identical walks; seed changes them."""
    from ferenda_spark.operators.graphops import random_walks
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("c", "d")],
        "src string, dst string")
    adj = {"a": {"b", "c"}, "b": {"c"}, "c": {"a", "d"}}
    w1 = sorted(map(tuple, random_walks(edges, 3, 2).collect()))
    w2 = sorted(map(tuple,
                    random_walks(edges.repartition(7), 3, 2).collect()))
    assert w1 == w2
    rows = {}
    for wid, step, node in w1:
        rows.setdefault(wid, {})[step] = node
    assert len(rows) == 8                   # 4 nodes × 2 walks
    for wid, path in rows.items():
        assert path[0] == wid.split(":")[0]
        for s in range(1, max(path) + 1):
            assert path[s] in adj[path[s - 1]]      # follows an edge
        if max(path) < 3:                           # stopped early
            assert path[max(path)] == "d"           # only at the sink
    w3 = sorted(map(tuple,
                    random_walks(edges, 3, 2, seed=1).collect()))
    assert w3 != w1


def test_walk_pairs_window(spark):
    from ferenda_spark.operators.graphops import walk_pairs
    walks = spark.createDataFrame(
        [("w", 0, "a"), ("w", 1, "b"), ("w", 2, "c"), ("w", 3, "a"),
         ("v", 0, "x")],
        "walk_id string, step int, node string")
    got = {(r["center"], r["context"]): r["n_pairs"]
           for r in walk_pairs(walks, window=2).collect()}
    # window 2 on w: (0,1)(0,2)(1,2)(1,3)(2,3) both directions,
    # self-pairs (a,a from steps 0/3... none within window 2? |0-3|=3)
    assert got == {("a", "b"): 2, ("b", "a"): 2,   # steps 0-1 and 1-3
                   ("a", "c"): 2, ("c", "a"): 2,   # steps 0-2 and 2-3
                   ("b", "c"): 1, ("c", "b"): 1}
    assert ("x", "x") not in got                   # lone node, no pair


def test_pmi_scores_arithmetic(spark):
    from math import log

    from ferenda_spark.operators.graphops import pmi_scores
    pairs = spark.createDataFrame(
        [("a", "b", 8), ("b", "a", 8), ("a", "c", 1), ("c", "a", 1),
         ("b", "c", 1), ("c", "b", 1)],
        "center string, context string, n_pairs long")
    got = {(r["center"], r["context"]): (r["pmi"], r["ppmi"])
           for r in pmi_scores(pairs).collect()}
    # N=20; center marginals a:9, b:9, c:2 (context identical by
    # symmetry of this pair set)
    ab = log(8 * 20 / (9 * 9))     # > 0: a,b strongly associated
    ac = log(1 * 20 / (9 * 2))     # > 0 slightly
    bc = log(1 * 20 / (9 * 2))
    cb = log(1 * 20 / (2 * 9))
    assert got[("a", "b")] == (round(ab, 6), round(ab, 6))
    assert got[("a", "c")] == (round(ac, 6), round(ac, 6))
    assert got[("b", "c")][0] == round(bc, 6)
    assert got[("c", "b")][0] == round(cb, 6)
    # clamp: a negative-PMI pair has ppmi exactly 0
    neg = spark.createDataFrame(
        [("x", "y", 1), ("y", "x", 1), ("x", "z", 9), ("z", "x", 9),
         ("y", "z", 9), ("z", "y", 9)],
        "center string, context string, n_pairs long")
    ngot = {(r["center"], r["context"]): (r["pmi"], r["ppmi"])
            for r in pmi_scores(neg).collect()}
    xy = log(1 * 38 / (10 * 10))   # ln(0.38) < 0
    assert ngot[("x", "y")] == (round(xy, 6), 0.0)


def test_adamic_adar_golden(spark):
    from math import log

    from ferenda_spark.operators.graphops import adamic_adar
    # square a-b-c-d-a plus chord a-c: predict b-d through a and c
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("a", "c")],
        "src string, dst string")
    got = {(r["a"], r["b"]): (r["common"], r["score"])
           for r in adamic_adar(edges).collect()}
    # existing pairs (incl. the chord) never appear
    assert ("a", "c") not in got and ("a", "b") not in got
    # b-d share neighbors a (deg 3) and c (deg 3)
    assert got[("b", "d")] == (2, round(1 / log(3) + 1 / log(3), 6))
    assert list(got) == [("b", "d")]


def test_adamic_adar_direction_collapse(spark):
    from ferenda_spark.operators.graphops import adamic_adar
    # anti-parallel directed edges collapse to one undirected pair;
    # u-z, z-v (and their reverses) predict only (u, v)
    edges = spark.createDataFrame(
        [("u", "z"), ("z", "u"), ("z", "v")], "src string, dst string")
    got = [(r["a"], r["b"], r["common"]) for r in
           adamic_adar(edges).collect()]
    assert got == [("u", "v", 1)]


def test_kcore_peeling(spark):
    from ferenda_spark.operators.graphops import kcore
    # triangle a-b-c with a pendant chain c-d-e: e peels in round 1,
    # d only in round 2 — the iterative part is load-bearing
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")],
        "src string, dst string")
    got = {r["node"]: r["core_deg"] for r in kcore(edges, k=2).collect()}
    assert got == {"a": 2, "b": 2, "c": 2}
    # a pure path has no 2-core at all
    path = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string")
    assert kcore(path, k=2).count() == 0
    # k=1 keeps every non-isolated node (fixpoint after round 0)
    assert kcore(path, k=1).count() == 4


def test_negative_samples_semantics(spark):
    import hashlib

    from ferenda_spark.operators.graphops import negative_samples
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("a", "c")],
        "src string, dst string")
    out = negative_samples(edges, per_positive=3, seed=7).collect()
    true = {("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("a", "c")}
    for r in out:
        assert r["neg"] != r["src"]                 # no self-corruption
        assert (r["src"], r["neg"]) not in true     # filtered setting
        assert 0 <= r["sample_i"] < 3
    # determinism: bit-identical on re-run, different under a new seed
    again = negative_samples(edges, per_positive=3, seed=7).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    other = negative_samples(edges, per_positive=3, seed=8).collect()
    assert sorted(map(tuple, out)) != sorted(map(tuple, other))

    # the corruption formula, reimplemented from the spec: dense ids
    # ordered by (md5-bucket, node), pick md5(src\x1fdst\x1fi:seed)%N+1
    def dev(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)
    nodes = ["a", "b", "c", "d"]
    ordered = sorted(nodes, key=lambda n: (dev(n) % 32, n))
    nid = {i + 1: n for i, n in enumerate(ordered)}
    expected = set()
    for (s, d) in true:
        for i in range(3):
            neg = nid[dev(f"{s}\x1f{d}\x1f{i}:7") % 4 + 1]
            if neg != s and (s, neg) not in true:
                expected.add((s, d, i, neg))
    assert {(r["src"], r["dst"], r["sample_i"], r["neg"])
            for r in out} == expected


def test_cocitation_coupling_golden(spark):
    from ferenda_spark.operators.graphops import cocitation_coupling
    # p cites a,b ; q cites b,c  → cocitation: (a,b) by p, (b,c) by q;
    # coupling: (p,q) share b
    edges = spark.createDataFrame(
        [("p", "a"), ("p", "b"), ("q", "b"), ("q", "c")],
        "src string, dst string")
    got = {(r["kind"], r["a"], r["b"]): r["n"]
           for r in cocitation_coupling(edges).collect()}
    assert got == {("cocitation", "a", "b"): 1,
                   ("cocitation", "b", "c"): 1,
                   ("coupling", "p", "q"): 1}
    # min_n prunes
    assert cocitation_coupling(edges, min_n=2).count() == 0


def test_characteristic_sets_census(spark):
    from ferenda_spark.operators.graphops import characteristic_sets
    triples = spark.createDataFrame(
        [("s1", "b", "x"), ("s1", "a", "y"), ("s1", "a", "z"),
         ("s2", "a", "u"), ("s2", "b", "v"),
         ("s3", "a", "w")],
        "subject string, predicate string, object string")
    got = {r["cs"]: (r["n_subjects"], r["n_preds"], r["avg_triples"])
           for r in characteristic_sets(triples).collect()}
    # s1 and s2 share the sorted set a|b (s1 with 3 triples, s2 with 2)
    assert got["a|b"] == (2, 2, 2.5)
    assert got["a"] == (1, 1, 1.0)


def test_bfs_distances_golden(spark):
    from ferenda_spark.operators.graphops import bfs_distances
    edges = spark.createDataFrame(
        [("s", "a"), ("a", "b"), ("b", "c"), ("t", "b"),   # t is a
         ("c", "s"),                                       # cycle back
         ("x", "y")],                                      # unreachable
        "src string, dst string")
    seeds = spark.createDataFrame([("s",), ("t",)], "node string")
    got = {r["node"]: r["dist"] for r in
           bfs_distances(edges, seeds).collect()}
    # b is 2 hops from s but 1 from t → min wins; cycle can't shrink s
    assert got == {"s": 0, "t": 0, "a": 1, "b": 1, "c": 2}
    assert "x" not in got and "y" not in got


def test_modularity_golden(spark):
    from math import isclose

    from ferenda_spark.operators.graphops import modularity
    # two triangles joined by one bridge; perfect 2-community split
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"),
         ("d", "e"), ("e", "f"), ("f", "d"), ("c", "d")],
        "src string, dst string")
    asg = spark.createDataFrame(
        [("a", "L"), ("b", "L"), ("c", "L"),
         ("d", "R"), ("e", "R"), ("f", "R")], "node string, label string")
    got = {r["label"]: r["q"] for r in modularity(edges, asg).collect()}
    # m=7; each side: e_c=3, d_c=7 → q = 3/7 - (7/14)^2 = 3/7 - 1/4
    per = 3 / 7 - 0.25
    assert isclose(got["L"], round(per, 6)) and \
        isclose(got["R"], round(per, 6))
    assert isclose(got["__Q__"], round(2 * per, 6))
    # everyone in one community → Q = e/m - 1 = 0 exactly... (d=2m)
    one = spark.createDataFrame([(n, "A") for n in "abcdef"],
                                "node string, label string")
    gq = {r["label"]: r["q"] for r in modularity(edges, one).collect()}
    assert gq["__Q__"] == 0.0


def test_graph_stats_star_values(spark):
    from math import log

    from ferenda_spark.operators.graphops import (degree_histogram,
                                                  graph_stats)
    # star: hub h with 4 leaves — maximally disassortative (r = -1)
    edges = spark.createDataFrame(
        [("h", x) for x in "abcd"], "src string, dst string")
    hist = {r["deg"]: r["n_nodes"]
            for r in degree_histogram(edges).collect()}
    assert hist == {1: 4, 4: 1}
    got = {r["stat"]: r["value"] for r in graph_stats(edges).collect()}
    assert got["n_nodes"] == 5 and got["n_edges"] == 4
    assert got["max_deg"] == 4 and got["mean_deg"] == 1.6
    assert got["assortativity"] == -1.0
    # alpha: 1 + n / (4·ln2 + 1·ln8)
    assert got["alpha_mle"] == round(1 + 5 / (4 * log(2) + log(8)), 4)
    # regular graph (triangle): denominator 0 → NULL, not a crash
    tri = spark.createDataFrame([("a", "b"), ("b", "c"), ("c", "a")],
                                "src string, dst string")
    t = {r["stat"]: r["value"] for r in graph_stats(tri).collect()}
    assert t["assortativity"] is None and t["mean_deg"] == 2.0


def test_kcore_bfs_both_branches_agree(spark):
    """Driver-Python and distributed branches are the same function."""
    from ferenda_spark.operators.graphops import bfs_distances, kcore
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"),
         ("e", "f"), ("f", "d"), ("b", "e")],
        "src string, dst string")
    for k in (2, 3):
        drv = sorted(map(tuple, kcore(edges, k=k).collect()))
        dist = sorted(map(tuple,
                          kcore(edges, k=k, driver_threshold=0)
                          .collect()))
        assert drv == dist, k
    seeds = spark.createDataFrame([("a",)], "node string")
    drv = sorted(map(tuple, bfs_distances(edges, seeds).collect()))
    dist = sorted(map(tuple,
                      bfs_distances(edges, seeds, driver_threshold=0)
                      .collect()))
    assert drv == dist


def test_entity_summaries_idf_ranking(spark):
    from math import log

    from ferenda_spark.namespaces import RDF_TYPE
    from ferenda_spark.operators.graphops import entity_summaries
    EX = "http://example.org/"
    rows = [("s1", EX + "common", "x"), ("s2", EX + "common", "x"),
            ("s3", EX + "common", "x"),
            ("s1", EX + "rare", "y"),
            ("s1", EX + "mid", "z"), ("s2", EX + "mid", "z"),
            ("s1", RDF_TYPE, EX + "T")]        # type never ranks
    df = spark.createDataFrame(
        rows, "subject string, predicate string, object string")
    got = [(r["rank"], r["predicate"], r["score"]) for r in
           entity_summaries(df, k=2).where(F.col("subject") == "s1")
           .orderBy("rank").collect()]
    # N=3 subjects; df(rare)=1, df(mid)=2, df(common)=3
    assert got == [(1, EX + "rare", round(log(3 / 1), 6)),
                   (2, EX + "mid", round(log(3 / 2), 6))]
    # k caps every subject; s2 keeps its 2 facts, s3 its 1
    counts = {r["subject"]: r["c"] for r in
              entity_summaries(df, k=2).groupBy("subject")
              .agg(F.count(F.lit(1)).alias("c")).collect()}
    assert counts == {"s1": 2, "s2": 2, "s3": 1}


def test_weighted_pagerank_semantics(spark):
    from ferenda_spark.operators.graphops import pagerank, weighted_pagerank
    # hub h splits rank 9:1 between a and b — a must outrank b;
    # with all weights 1 the weighted op reduces to classic pagerank
    edges = spark.createDataFrame(
        [("h", "a", 9.0), ("h", "b", 1.0), ("a", "h", 1.0),
         ("b", "h", 1.0)], "src string, dst string, weight double")
    got = {r["node"]: r["rank"] for r in
           weighted_pagerank(edges).collect()}
    assert got["a"] > got["b"] > 0
    unit = edges.select("src", "dst", F.lit(1.0).alias("weight"))
    wp = {r["node"]: r["rank"] for r in
          weighted_pagerank(unit).collect()}
    cp = {r["node"]: r["rank"] for r in
          pagerank(unit.select("src", "dst")).collect()}
    assert wp == cp
    # parallel edges pre-aggregate: (h,a,9) == (h,a,4)+(h,a,5)
    split = spark.createDataFrame(
        [("h", "a", 4.0), ("h", "a", 5.0), ("h", "b", 1.0),
         ("a", "h", 1.0), ("b", "h", 1.0)],
        "src string, dst string, weight double")
    sp = {r["node"]: r["rank"] for r in
          weighted_pagerank(split).collect()}
    assert sp == got
    # both branches agree
    dist = {r["node"]: r["rank"] for r in
            weighted_pagerank(edges, driver_threshold=0).collect()}
    assert dist == got


def test_pagerank_warm_start(spark):
    """Warm-started ranks on an UNCHANGED graph must equal continuing
    the same iteration (warm-start is the identity when nothing
    changed), and both hybrid branches must honor init identically."""
    from pyspark.sql import functions as F
    from ferenda_spark.operators.graphops import pagerank
    n = 40
    e = spark.createDataFrame(
        [("n%02d" % v, "n%02d" % ((3 * v + 1) % n)) for v in range(n)] +
        [("n%02d" % v, "n%02d" % ((v + 7) % n)) for v in range(0, n, 2)],
        "src string, dst string")
    # 10 rounds straight == 6 rounds, then 4 warm-started rounds from
    # the UNROUNDED... ranks are rounded at the hand-off, so compare
    # against the same two-phase computation on the other branch
    # instead of the one-shot run; and two-phase driver == two-phase
    # distributed exactly
    drv = pagerank(e, max_iter=4,
                   init_ranks=pagerank(e, max_iter=6))
    dist = pagerank(e, max_iter=4, driver_threshold=0,
                    init_ranks=pagerank(e, max_iter=6,
                                        driver_threshold=0))
    assert [(r["node"], r["rank"]) for r in drv.collect()] == \
           [(r["node"], r["rank"]) for r in dist.collect()]
    # warm-start from the fixpoint changes nothing: seeds reproduce
    full = pagerank(e, max_iter=60)
    warm = pagerank(e, max_iter=4, init_ranks=full)
    a = {r["node"]: r["rank"] for r in full.collect()}
    b = {r["node"]: r["rank"] for r in warm.collect()}
    assert set(a) == set(b)
    assert all(abs(a[k] - b[k]) < 1e-4 for k in a)
