"""Transitive closure to fixpoint — the dcterms:isPartOf* analog.

The reference's annotation query uses a SPARQL property path
``?s dcterms:isPartOf* <uri>`` (ref res/sparql/annotations.rq:12-17,
driver ferenda/documentrepository.py:2557-2612). Both iterative
forms — the all-pairs closure and the seeded BFS — run to FIXPOINT,
the same semantics as the SQL twin's recursive CTE, so they and the
DuckDB oracle can never diverge on deep chains. The loop terminates
because the frontier is anti-joined against everything seen: pair/node
sets grow strictly, bounded by |V|² / |V|. Bounded SPARQL quantifiers
(``p{m,n}``) do not come here: sparql.py unrolls their n rounds itself.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def transitive_closure(edges: DataFrame, src: str = "src", dst: str = "dst",
                       keys: Sequence[str] = ()) -> DataFrame:
    """edges(*keys, src, dst) → all (*keys, a, b) pairs reachable in 1+
    hops, reflexive pairs excluded. A path never crosses a ``keys``
    value: one closure per key (per named graph under GRAPH ?var, per
    predicate in owl_materialize), all keys in one shared iteration
    joined on (key, node) rather than one job per key — so small
    per-key pair sets make the uniform join keys the skew defense."""
    base = (edges.select(*keys, F.col(src).alias("a"), F.col(dst).alias("b"))
            .where(F.col("a") != F.col("b")).distinct()
            .localCheckpoint(eager=True))
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
                    src: str = "src", dst: str = "dst") -> DataFrame:
    """Single-column (n) DataFrame: nodes reachable FROM ``start`` in
    1+ hops — or nodes that can REACH it when ``reverse`` (same depth
    semantics as :func:`transitive_closure`, so the seeded/all-pairs
    hybrid switch in sparql.py cannot change query results).

    The seeded twin of :func:`transitive_closure` for property paths
    with one constant endpoint (``?s dcterms:references+ <uri>`` — the
    describe/annotations shape): each round broadcast-joins the tiny
    frontier against the edge scan, so cost tracks the visited
    neighborhood, never the all-pairs closure of the whole graph."""
    a, b = (dst, src) if reverse else (src, dst)
    base = (edges.select(F.col(a).alias("s"), F.col(b).alias("d"))
            .distinct().localCheckpoint(eager=True))
    spark = edges.sparkSession
    frontier = spark.createDataFrame([(start,)], "n string") \
        .localCheckpoint(eager=True)
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
        return spark.createDataFrame([], "n string")
    # start itself can never appear: seen is seeded with it, so a
    # cycle's re-reach is anti-joined away before entering out —
    # matching transitive_closure's reflexive-pair exclusion
    return out.distinct()
