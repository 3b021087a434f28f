"""The hybrid graph operators' one driver gate (operators/util.
driver_edges): each operator solves on the driver at exactly |E| ≤
driver_threshold, and both sides of that boundary give equal rows."""

import pytest
from pyspark.sql import functions as F

from ferenda_spark.graph import closure, components
from ferenda_spark.namespaces import RDF_TYPE
from ferenda_spark.operators import graphops, inference, util

ANC = "http://example.org/anc"

# no self-loops, duplicates or reciprocal pairs, so every operator's
# own edge set (distinct, undirected, weighted, per-predicate) has
# exactly len(EDGES) rows: two 3-cycles joined by b→e, and a tail
EDGES = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"),
         ("e", "f"), ("f", "d"), ("b", "e"), ("f", "g"), ("g", "h")]


def _seeds(spark):
    return spark.createDataFrame([("a",)], "node string")


def _owl(spark, edges, t):
    triples = edges.selectExpr("src AS subject", "'%s' AS predicate" % ANC,
                               "dst AS object", "'uri' AS objtype")
    onto = [(ANC, RDF_TYPE, inference.OWL_TRANSITIVE)]
    return inference.owl_materialize(triples, onto, driver_threshold=t)


HYBRIDS = {
    "pagerank": lambda s, e, t: graphops.pagerank(
        e, max_iter=5, driver_threshold=t),
    "hits": lambda s, e, t: graphops.hits(
        e, max_iter=5, driver_threshold=t),
    "personalized_pagerank": lambda s, e, t: graphops.personalized_pagerank(
        e, _seeds(s), max_iter=5, driver_threshold=t),
    "kcore": lambda s, e, t: graphops.kcore(e, k=2, driver_threshold=t),
    "bfs_distances": lambda s, e, t: graphops.bfs_distances(
        e, _seeds(s), driver_threshold=t),
    "weighted_pagerank": lambda s, e, t: graphops.weighted_pagerank(
        e, max_iter=5, driver_threshold=t),
    "scc": lambda s, e, t: graphops.scc(e, driver_threshold=t),
    "weighted_sssp": lambda s, e, t: graphops.weighted_sssp(
        e, _seeds(s), driver_threshold=t),
    "condensation": lambda s, e, t: graphops.condensation(
        e, driver_threshold=t),
    "connected_components": lambda s, e, t:
        components.connected_components(e, driver_threshold=t),
    "owl_materialize": _owl,
    # two keys, so one path could cross from one key to the other
    "transitive_closure": lambda s, e, t: closure.transitive_closure(
        e.withColumn("k", (F.col("w") > 5).cast("string")), keys=["k"],
        driver_threshold=t),
    "reachable_nodes": lambda s, e, t: closure.reachable_nodes(
        e, "a", driver_threshold=t),
    "reachable_nodes_reverse": lambda s, e, t: closure.reachable_nodes(
        e, "e", reverse=True, driver_threshold=t),
}


@pytest.mark.parametrize("name", sorted(HYBRIDS))
def test_driver_gate_boundary(spark, monkeypatch, name):
    branches = []

    def recording_gate(E, threshold):
        head = util.driver_edges(E, threshold)
        branches.append("driver" if head is not None else "distributed")
        return head

    for mod in (graphops, components, closure):
        monkeypatch.setattr(mod, "driver_edges", recording_gate)
    edges = spark.createDataFrame(
        [(s, d, float(i + 1), float(i + 1))
         for i, (s, d) in enumerate(EDGES)],
        "src string, dst string, weight double, w double")
    rows = {}
    for t in (len(EDGES), len(EDGES) - 1):
        branches.clear()
        rows[t] = sorted(map(tuple, HYBRIDS[name](spark, edges, t)
                             .collect()))
        # every decision of the run, nested ones included (condensation's
        # distributed branch calls scc, which gates again with the
        # caller's threshold)
        rows[t, "branches"] = set(branches)
    assert rows[len(EDGES), "branches"] == {"driver"}
    assert rows[len(EDGES) - 1, "branches"] == {"distributed"}
    assert rows[len(EDGES)], name
    assert rows[len(EDGES)] == rows[len(EDGES) - 1], name
