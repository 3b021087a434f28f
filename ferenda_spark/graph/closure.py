"""Transitive closure to fixpoint — the dcterms:isPartOf* analog.

The reference's annotation query uses a SPARQL property path
``?s dcterms:isPartOf* <uri>`` (ref res/sparql/annotations.rq:12-17,
driver ferenda/documentrepository.py:2557-2612). Both forms — the
all-pairs closure and the seeded BFS — run to FIXPOINT, the same
semantics as the SQL twin's recursive CTE, so they and the DuckDB
oracle can never diverge on deep chains. Bounded SPARQL quantifiers
(``p{m,n}``) do not come here: sparql.py unrolls their n rounds itself.

Each form is a hybrid behind the one driver gate
(``operators.util.driver_edges``) on its distinct edge set. At or below
the cutoff the edges are fetched in one Arrow job and the closure is a
per-source BFS in Python, returned as a LocalRelation: no per-round
jobs. The seeded form then holds the edges and the visited nodes; the
all-pairs form holds the edges and the whole closure it returns, which
can be quadratic in the nodes. Above the cutoff the loop is
distributed, one checkpoint and one emptiness job per round; it
terminates because the frontier is anti-joined against everything
seen: pair/node sets grow strictly, bounded by |V|² / |V|.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..operators.util import DRIVER_THRESHOLD, driver_edges, local_frame


def _reach(adj: dict, start) -> set:
    """Nodes reachable from ``start`` in 1+ hops over ``adj`` (node →
    successors), ``start`` itself excluded."""
    seen, stack = set(), list(adj.get(start, ()))
    while stack:
        v = stack.pop()
        if v not in seen:
            seen.add(v)
            stack.extend(adj.get(v, ()))
    seen.discard(start)
    return seen


def transitive_closure(edges: DataFrame, src: str = "src", dst: str = "dst",
                       keys: Sequence[str] = (),
                       driver_threshold: int = DRIVER_THRESHOLD
                       ) -> DataFrame:
    """edges(*keys, src, dst) → all (*keys, a, b) pairs reachable in 1+
    hops, reflexive pairs excluded. A path never crosses a ``keys``
    value: one closure per key (per named graph under GRAPH ?var, per
    predicate in owl_materialize). On the driver that is one adjacency
    per key; distributed, all keys run in one shared iteration joined
    on (key, node) rather than one job per key — so small per-key pair
    sets make the uniform join keys the skew defense."""
    base = (edges.select(*keys, F.col(src).alias("a"), F.col(dst).alias("b"))
            .where(F.col("a") != F.col("b")).distinct())
    head = driver_edges(base, driver_threshold)
    if head is not None:
        adj: dict = {}
        for *k, a, b in head.itertuples(index=False, name=None):
            adj.setdefault(tuple(k), {}).setdefault(a, set()).add(b)
        return local_frame(edges.sparkSession,
                           [(*k, a, b) for k, g in adj.items()
                            for a in g for b in _reach(g, a)],
                           base.schema)
    base = base.localCheckpoint(eager=True)
    cond = F.col("p.b") == F.col("e.a")
    for k in keys:
        cond = cond & (F.col("p." + k) == F.col("e." + k))
    paths = base
    frontier = base
    while True:
        nxt = (frontier.alias("p")
               .join(base.alias("e"), cond)
               .select(*[F.col("p." + k).alias(k) for k in keys],
                       F.col("p.a").alias("a"), F.col("e.b").alias("b"))
               .where(F.col("a") != F.col("b"))
               .distinct()
               .localCheckpoint(eager=True))
        frontier = (nxt.join(paths, [*keys, "a", "b"], "left_anti")
                    .localCheckpoint(eager=True))
        if frontier.isEmpty():
            break
        paths = paths.union(frontier).localCheckpoint(eager=True)
    return paths.distinct()


def ispartof_closure(triples: DataFrame) -> DataFrame:
    """triples → (part, ancestor) closure over dcterms:isPartOf."""
    edges = (triples
             .where(F.col("predicate") ==
                    F.lit("http://purl.org/dc/terms/isPartOf"))
             .select(F.col("subject").alias("src"),
                     F.col("object").alias("dst")))
    return transitive_closure(edges).select(
        F.col("a").alias("part"), F.col("b").alias("ancestor"))


def reachable_nodes(edges: DataFrame, start: str, reverse: bool = False,
                    src: str = "src", dst: str = "dst",
                    driver_threshold: int = DRIVER_THRESHOLD) -> DataFrame:
    """Single-column (n) DataFrame: nodes reachable FROM ``start`` in
    1+ hops — or nodes that can REACH it when ``reverse`` (same depth
    semantics as :func:`transitive_closure`, so a seeded property path
    and the all-pairs closure filtered to its constant agree). ``start``
    is never in its own result, even on a cycle.

    The seeded twin of :func:`transitive_closure` for property paths
    with one constant endpoint (``?s dcterms:references+ <uri>`` — the
    describe/annotations shape): on the driver a single-source BFS;
    distributed, each round broadcast-joins the tiny frontier against
    the edge scan. Either way cost tracks the visited neighborhood,
    never the all-pairs closure of the whole graph."""
    a, b = (dst, src) if reverse else (src, dst)
    base = edges.select(F.col(a).alias("s"), F.col(b).alias("d")).distinct()
    spark = edges.sparkSession
    schema = StructType([StructField("n", base.schema["d"].dataType)])
    head = driver_edges(base, driver_threshold)
    if head is not None:
        adj: dict = {}
        for s, d in head.itertuples(index=False, name=None):
            adj.setdefault(s, set()).add(d)
        return local_frame(spark, [(n,) for n in _reach(adj, start)],
                           schema)
    base = base.localCheckpoint(eager=True)
    frontier = local_frame(spark, [(start,)], schema)
    seen = frontier
    out = None
    while True:
        nxt = (base.join(F.broadcast(frontier),
                         base["s"] == frontier["n"])
               .select(F.col("d").alias("n")).distinct()
               .localCheckpoint(eager=True))
        frontier = nxt.join(seen, "n", "left_anti") \
                      .localCheckpoint(eager=True)
        if frontier.isEmpty():
            break
        seen = seen.union(frontier).localCheckpoint(eager=True)
        out = frontier if out is None else out.union(frontier)
    if out is None:
        return local_frame(spark, [], schema)
    # start itself can never appear: seen is seeded with it, so a
    # cycle's re-reach is anti-joined away before entering out —
    # matching transitive_closure's reflexive-pair exclusion
    return out.distinct()
