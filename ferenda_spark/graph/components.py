"""Connected components via alternating large-star / small-star joins.

The reference resolves identity implicitly (exact URI equality after
minting, owl:sameAs emitted but never transitively closed —
ref lagen/nu/sameas.py:15-75, ferenda/documentrepository.py:1962). At
10^12-document scale the sameAs graph needs a real CC algorithm; this is
the standard O(log n)-round alternating algorithm (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) expressed as
DataFrame joins:

- large-star: every neighbor v > u of u points to m = min(Γ(u) ∪ {u})
- small-star: every neighbor v <= u (plus u itself) points to m

Skew handling (hub entities with massive fan-in): the per-node min is a
partial (map-side) aggregation, and the join back on the hub key is
covered by AQE skew-join splitting (enabled in session defaults). Each
round the stars *shrink* hub adjacency toward the component minimum, so
hub degree decays geometrically — this is the algorithmic salting the
north rule asks for; no single reducer ever owns a hub's full edge list.

Convergence: iterate until the edge multiset hash is stable (cheap
single-pass agg), capped at max_iter.

Small edge sets are solved on the driver instead; the graph operators'
one gate, ``operators.util.driver_edges``, takes that branch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.util import DRIVER_THRESHOLD, driver_edges, iter_checkpoint


def _sym(edges: DataFrame) -> DataFrame:
    return (edges.select("u", "v")
            .union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct())


def _large_star(edges: DataFrame) -> DataFrame:
    sym = _sym(edges)
    mins = (sym.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("mv", "u").alias("m")))
    return (sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct())


def _small_star(edges: DataFrame) -> DataFrame:
    directed = (edges.select(F.greatest("u", "v").alias("u"),
                             F.least("u", "v").alias("v"))
                .where(F.col("u") != F.col("v"))
                .distinct())
    mins = directed.groupBy("u").agg(F.min("v").alias("m"))
    pointed = (directed.join(mins, "u")
               .select(F.col("v").alias("u"), F.col("m").alias("v")))
    self_edges = mins.select(F.col("u"), F.col("m").alias("v"))
    return (pointed.union(self_edges)
            .where(F.col("u") != F.col("v"))
            .distinct())


def _signature(edges: DataFrame):
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(u, v))").alias("h")).collect()[0]
    return (row["n"], row["h"])


def _driver_cc(spark, pairs) -> DataFrame:
    """Union-find on the driver for small edge sets. The sameAs graph
    is a minuscule slice of the corpus (only aliased resources appear);
    paying ~2·log* n pointer chases beats 10-20 distributed shuffle
    rounds until the edge list stops fitting in driver memory — the
    same small-side cutoff reasoning as broadcast-join selection."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:        # path compression
            parent[x], x = root, parent[x]
        return root

    for u, v in pairs:
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by min so the representative is the component min
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
    nodes = set()
    for u, v in pairs:
        nodes.add(u)
        nodes.add(v)
    ordered = sorted(nodes)
    # Arrow path: a plain-list createDataFrame pickles row-by-row
    # (~minutes at 10^5 rows); pandas → Arrow is ~1 s
    import pandas as pd
    pdf = pd.DataFrame({"node": ordered,
                        "component": [find(n) for n in ordered]})
    return spark.createDataFrame(pdf)


def connected_components(edges: DataFrame, src: str = "src",
                         dst: str = "dst", max_iter: int = 25,
                         driver_threshold: int = DRIVER_THRESHOLD
                         ) -> DataFrame:
    """edges(src, dst) undirected → (node, component) where component is
    the lexicographic minimum node id of the component. Isolated nodes
    (absent from edges) are the caller's concern (left-join + coalesce).

    Hybrid strategy: small edge sets (≤ driver_threshold after dedup)
    are solved with driver-side union-find; larger ones run the
    alternating large-star/small-star rounds.
    """
    E = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
         .where(F.col("u") != F.col("v")).distinct())
    head = driver_edges(E, driver_threshold)
    if head is not None and head.empty:
        return E.select(F.col("u").alias("node"), F.col("v").alias("component"))
    if head is not None:
        pairs = list(head.itertuples(index=False, name=None))
        return _driver_cc(edges.sparkSession, pairs)
    prev_sig = None
    for i in range(max_iter):
        # disk checkpoint every 3rd round: localCheckpoint chains stop
        # truncating lineage after ~7 rounds on this build (BENCH.md)
        E = iter_checkpoint(_small_star(_large_star(E)), i)
        sig = _signature(E)
        if sig == prev_sig:
            break
        prev_sig = sig
    # E is now a star graph child → root
    children = E.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = E.select(F.col("v").alias("node"),
                     F.col("v").alias("component")).distinct()
    return children.union(roots).groupBy("node").agg(
        F.min("component").alias("component"))


def canonical_mapping(sameas_triples: DataFrame) -> DataFrame:
    """owl:sameAs triples (subject, object) → (uri, canonical_id)."""
    edges = sameas_triples.select(F.col("subject").alias("src"),
                                  F.col("object").alias("dst"))
    cc = connected_components(edges)
    return cc.select(F.col("node").alias("uri"),
                     F.col("component").alias("canonical_id"))


def incremental_components(assignments: DataFrame, new_edges: DataFrame,
                           src: str = "src", dst: str = "dst"
                           ) -> DataFrame:
    """Incremental connected components: fold a crawl batch's new
    owl:sameAs edges into an existing (node, component) assignment
    table without recomputing CC over the corpus.

    ``assignments`` must be a closed component mapping (every member
    listed, component = min member — exactly what
    :func:`connected_components` emits). Returns the updated
    (node, component) table, identical to recomputing CC over the old
    components' implied edges ∪ ``new_edges`` (asserted by the
    kg_entities_delta oracle, which IS the full recompute).

    Algorithm (the standard contracted-graph update): project each new
    edge endpoint to its current component id; run CC over that
    *contracted* edge list (batch-sized — old components shrink to
    single nodes); the result is simultaneously the relabel map for
    touched components and the assignment for never-seen nodes. The
    new representative is still the global min member, because each
    old label already was its component's min.

    Scale notes (10^12 docs): the corpus-sized ``assignments`` table is
    only ever the *probe* side of two broadcast hash joins (batch
    endpoints in, relabel map back out) — it never shuffles, and the CC
    itself runs on the contracted batch graph, so steady-state cost is
    O(batch), not O(corpus). This is the update path a continuously
    ingesting KG needs: full alternating-star CC once at bootstrap,
    contracted updates per crawl batch thereafter.
    """
    E = (new_edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
         .where(F.col("u") != F.col("v")).distinct())
    nodes = (E.select(F.col("u").alias("node"))
             .union(E.select(F.col("v").alias("node"))).distinct())
    # current labels for batch endpoints: batch-sized result, the big
    # assignments scan streams past the broadcast endpoint set
    labels = (assignments.join(F.broadcast(nodes), "node")
              .select("node", "component").localCheckpoint(eager=True))
    lu = labels.select(F.col("node").alias("u"),
                       F.col("component").alias("cu"))
    lv = labels.select(F.col("node").alias("v"),
                       F.col("component").alias("cv"))
    contracted = (E.join(F.broadcast(lu), "u", "left")
                  .join(F.broadcast(lv), "v", "left")
                  .select(F.coalesce("cu", "u").alias("src"),
                          F.coalesce("cv", "v").alias("dst"))
                  .where(F.col("src") != F.col("dst")))
    delta = connected_components(contracted).localCheckpoint(eager=True)
    # relabel touched components (delta.node is an old component id or
    # a brand-new node; join on component touches only merged rows)
    relabel = delta.select(F.col("node").alias("component"),
                           F.col("component").alias("_nc"))
    updated = (assignments.join(F.broadcast(relabel), "component", "left")
               .select("node",
                       F.coalesce("_nc", "component").alias("component")))
    # never-seen nodes: batch endpoints with no current label
    new_nodes = nodes.join(F.broadcast(labels.select("node")),
                           "node", "left_anti")
    new_rows = (delta.join(F.broadcast(new_nodes), "node")
                .select("node", "component"))
    return updated.unionByName(new_rows)
