"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the engine's operator surface in two groups:

- ``kg_*``: the ferenda-derived KG-construction pipeline over the
  deterministic synthetic ``pages`` corpus (BASELINE.json input_hint).
  Each has a hard DuckDB oracle via the materialized-extraction scheme
  (ferenda_spark.kgcache): a pure-Python single-threaded run of the
  same extraction kernel writes parquet once; the extraction queries
  run the REAL distributed stage and are compared against that parquet
  (cross-execution check), while downstream operators read the parquet
  through Spark and their oracles are plain SQL (recursive CTEs,
  unrolled power iteration) over the same files. Reference-fixture
  value parity is additionally covered by pytest
  (tests/test_rfc_parity.py, tests/test_extract_stage.py).
- everything else: crawl/WARC ingestion, sketches, text statistics,
  dedup and ANN (the entity-resolution blocking family), event-time and
  relational operators over the driver's parquet tables, each with an
  exact DuckDB oracle (exceptions documented per query:
  recall-probabilistic operators stay rows-only with pytest recall
  assertions).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from functools import partial
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

KG_N = 200          # synthetic pages corpus size for driver checks
KG_PARTS = 8

# The driver's correctness gate runs queries and oracles at sf=0.01;
# the cross-execution twins (ferenda_spark.annoracle) must read the
# same input dir. scripts/parity_check.py exports SF_DIR so the dev
# harness agrees at any SF.
CORRECTNESS_SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")


# --------------------------------------------------------------- helpers

def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, table + ".parquet"))


def _pages(spark: SparkSession, n: int) -> DataFrame:
    from ferenda_spark.pages import build_pages
    return build_pages(spark, n, KG_PARTS)


def _extracted(spark: SparkSession, n: int) -> DataFrame:
    from ferenda_spark.operators.extract import extract_stage
    from ferenda_spark.pages import COMMONDATA
    return extract_stage(_pages(spark, n), _kg_cfg(), COMMONDATA)


def _kg_cfg():
    from ferenda_spark.pages import CFG
    return CFG


def _kg_dictionary() -> list[tuple[str, str]]:
    from ferenda_spark.pages import COMMONDATA
    return [(label, uri) for (_pred, label), uri in COMMONDATA.items()]


def _kg_commondata() -> dict:
    from ferenda_spark.pages import COMMONDATA
    return dict(COMMONDATA)


def _kg_search_sql(kg_paths: dict) -> str:
    from ferenda_spark.operators.fulltext import oracle_sql_fulltext
    return oracle_sql_fulltext(
        "read_parquet('%s')" % kg_paths["resources"], KG_SEARCH_TERMS,
        docs_table="read_parquet('%s')" % kg_paths["documents"])


def _kg_facet_query_sql(kg_paths: dict) -> str:
    from ferenda_spark.operators.facets import facet_query
    return facet_query(
        rdf_type="http://purl.org/ontology/bibo/Standard",
        table="read_parquet('%s')" % kg_paths["triples"],
        context="kg")


def _kg_rdfs_sql(kg_paths: dict) -> str:
    from ferenda_spark.operators.inference import (
        CORPUS_ONTOLOGY, sql_rdfs_entailed)
    return sql_rdfs_entailed("read_parquet('%s')" % kg_paths["triples"],
                             CORPUS_ONTOLOGY)


def _kg_owl_sql(kg_paths: dict) -> str:
    from ferenda_spark.operators.inference import (
        CORPUS_OWL_ONTOLOGY, sql_owl_entailed)
    return sql_owl_entailed("read_parquet('%s')" % kg_paths["triples"],
                            CORPUS_OWL_ONTOLOGY)


# incremental-entailment delta batch: two new docs (type chain +
# subproperty/domain/range fire) and one NEW schema axiom (every
# foaf:Document — asserted or derived — becomes ex:Archivable, the
# schema-delta-over-corpus path); deterministic by construction
KG_RDFS_DELTA = [
    ("http://example.org/new/9001",
     "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
     "http://example.org/ontology/rfc/RFC", "uri"),
    ("http://example.org/new/9001", "http://purl.org/dc/terms/references",
     "http://example.org/res/doc/1", "uri"),
    ("http://example.org/new/9002", "http://purl.org/dc/terms/publisher",
     "http://example.org/org/ietf", "uri"),
    ("http://xmlns.com/foaf/0.1/Document",
     "http://www.w3.org/2000/01/rdf-schema#subClassOf",
     "http://example.org/class/Archivable", "uri"),
]


def _q_kg_rdfs_delta(spark, sf_dir, n):
    """Incremental RDFS maintenance: entail(T ∪ Δ) − entail(T) via the
    Δ-sized semi-naive plan (rules over Δ with the new schema closure,
    rules over the entailed table with the schema DELTA only, one
    terminal anti-join) — checked against the by-definition DuckDB
    oracle entail(T∪Δ) EXCEPT entail(T)."""
    from ferenda_spark.operators.inference import (
        CORPUS_ONTOLOGY, rdfs_materialize, rdfs_materialize_delta)
    triples = _kg_read(spark, "triples", n)
    entailed = rdfs_materialize(triples, CORPUS_ONTOLOGY)
    delta = spark.createDataFrame(
        KG_RDFS_DELTA,
        "subject string, predicate string, object string, objtype string")
    return rdfs_materialize_delta(entailed, delta, CORPUS_ONTOLOGY)


def _kg_rdfs_delta_sql(kg_paths: dict) -> str:
    from ferenda_spark.operators.inference import (CORPUS_ONTOLOGY,
                                                   sql_rdfs_delta)
    dvals = ", ".join("('%s', '%s', '%s', '%s')" % t for t in KG_RDFS_DELTA)
    dsql = ("(SELECT * FROM (VALUES %s) "
            "v(subject, predicate, object, objtype))" % dvals)
    return sql_rdfs_delta("read_parquet('%s')" % kg_paths["triples"],
                          dsql, CORPUS_ONTOLOGY)


def _kg_shacl_sql(kg_paths: dict) -> str:
    from ferenda_spark.operators.validate import sql_validate_shapes
    return sql_validate_shapes("read_parquet('%s')" % kg_paths["triples"],
                               _kg_shapes())


def _kg_update_sql(kg_paths: dict) -> str:
    from ferenda_spark.update import update_sql
    return update_sql("read_parquet('%s')" % kg_paths["triples"],
                      _KG_UPDATE)


def _kg_void_sql(kg_paths: dict) -> str:
    from ferenda_spark.operators.graphops import sql_void_stats
    return sql_void_stats("read_parquet('%s')" % kg_paths["triples"])


def _kg_sparql_sql(kg_paths: dict, query: str) -> str:
    from ferenda_spark import sparql
    return sparql.compile_sql("read_parquet('%s')" % kg_paths["triples"],
                              query)


def _kg_paths(n: int) -> dict[str, str]:
    from ferenda_spark.kgcache import ensure_kg_tables
    return ensure_kg_tables(n)


def _kg_read(spark: SparkSession, table: str, n: int) -> DataFrame:
    """Downstream kg queries read the materialized extraction parquet
    (the Iceberg-table hand-off between pipeline stages in production)
    instead of re-running the extract UDF per query; the extraction
    itself is oracle-checked by kg_documents/kg_triples/kg_resources."""
    return spark.read.parquet(_kg_paths(n)[table])


# --------------------------------------------------------------- entry

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full KG construction over the synthetic pages corpus —
    extract → triples → sameAs canonicalization — returning the
    canonicalized triple table."""
    from ferenda_spark.operators.extract import triples_table
    from ferenda_spark.operators.relate import canonicalize_triples
    # persist: the extraction UDF output fans out into the sameAs CC
    # derivation and the two canonicalization joins (≙ materializing
    # the triples table to Iceberg between stages in production)
    triples = triples_table(_extracted(spark, KG_N),
                            context="kg").persist()
    return canonicalize_triples(triples)


# -------------------------------------------------------------- queries

def _q_kg_documents(spark, sf_dir, n):
    from ferenda_spark.operators.extract import documents_table
    return documents_table(_extracted(spark, n)).orderBy("url")


def _q_kg_triples(spark, sf_dir, n):
    from ferenda_spark.operators.extract import triples_table
    return triples_table(_extracted(spark, n), context="kg")


def _q_kg_resources(spark, sf_dir, n):
    from ferenda_spark.operators.extract import resources_table
    return resources_table(_extracted(spark, n))


def _q_kg_xhtml_roundtrip(spark, sf_dir, n):
    """render_xhtml sink + the reference's own completeness self-check
    (ref decorators.py:209-235): serialize every document to XHTML 1.1
    + RDFa, re-parse with the engine's HTML parser + RDFa extractor,
    emit the recovered triples. Oracle = the triples table itself —
    hash-green iff serialization loses or invents nothing."""
    from ferenda_spark.operators.render import (render_xhtml_stage,
                                                roundtrip_triples)
    return roundtrip_triples(render_xhtml_stage(_extracted(spark, n)),
                             context="kg")


def _q_kg_deps(spark, sf_dir, n):
    from ferenda_spark.operators.relate import deps_table
    return deps_table(_kg_read(spark, "triples", n),
                      _kg_read(spark, "documents", n), _kg_cfg())


def _q_kg_entities(spark, sf_dir, n):
    from ferenda_spark.operators.relate import entities_table
    return entities_table(_kg_read(spark, "triples", n))


def _q_kg_entities_delta(spark, sf_dir, n):
    """Incremental entity resolution: bootstrap CC over the sameAs
    edges of every crawl doc EXCEPT the …2.html batch, then fold the
    batch in with graph.components.incremental_components (contracted
    batch-graph CC; the assignments table never shuffles). The …2.html
    docs' alias chains bridge existing components (…res/doc/2→1→0 and
    the doc/0 hub), so the update exercises the merge + relabel +
    new-node paths; the oracle is the FULL recompute (sql_entities) —
    incremental ≡ from-scratch by definition."""
    from ferenda_spark.graph.components import (canonical_mapping,
                                                incremental_components)
    from ferenda_spark.operators.relate import OWL_SAMEAS
    sa = (_kg_read(spark, "triples", n)
          .where(F.col("predicate") == OWL_SAMEAS)
          .select("source_url", "subject", "object"))
    base = (canonical_mapping(sa.where(~F.col("source_url")
                                        .like("%2.html")))
            .select(F.col("uri").alias("node"),
                    F.col("canonical_id").alias("component")))
    out = incremental_components(
        base, sa.where(F.col("source_url").like("%2.html"))
                .select(F.col("subject").alias("src"),
                        F.col("object").alias("dst")))
    return out.select(F.col("component").alias("canonical_id"),
                      F.col("node").alias("uri"))


def _q_kg_canonical_triples(spark, sf_dir, n):
    from ferenda_spark.operators.relate import canonicalize_triples
    return canonicalize_triples(_kg_read(spark, "triples", n))


def _q_kg_linked_publishers(spark, sf_dir, n):
    """Two-stage distributed linking path over the raw (commondata-free)
    triples: publishers stay literal at extraction, then resolve with
    the broadcast-dict + trigram-index + difflib-scorer operator."""
    from ferenda_spark.operators.linking import link_triples
    dictionary = spark.createDataFrame(_kg_dictionary(),
                                       "label string, uri string")
    return link_triples(
        _kg_read(spark, "triples_raw", n), dictionary,
        predicates=["http://purl.org/dc/terms/publisher"])


def _q_kg_faceted(spark, sf_dir, n):
    from ferenda_spark.operators.facets import faceted_data
    return faceted_data(_kg_read(spark, "triples", n))


def _kg_labels(spark, n):
    from ferenda_spark.namespaces import expand_curie
    from ferenda_spark.pages import COMMONDATA
    return spark.createDataFrame(
        [(uri, expand_curie(pred), label)
         for (pred, label), uri in COMMONDATA.items()],
        "uri string, predicate string, label string")


def _q_kg_faceted_typed(spark, sf_dir, n):
    """Type-gated faceted data; the oracle is the engine's OWN
    generated facet_query SQL (facet_query ≙ the reference's generated
    SPARQL SELECT), so the generator is correctness-gated."""
    from ferenda_spark.operators.facets import faceted_data
    return faceted_data(_kg_read(spark, "triples", n),
                        rdf_type="http://purl.org/ontology/bibo/Standard")


def _q_kg_toc(spark, sf_dir, n):
    """Full TOC read path: default facet set (title firstletter /
    titlesortkey, publisher resourcelabel, issued year) over the
    faceted table — ≙ toc_select_for_pages."""
    from ferenda_spark.operators.facetlib import default_facets, toc_documents
    from ferenda_spark.operators.facets import faceted_data
    return toc_documents(faceted_data(_kg_read(spark, "triples", n)),
                         default_facets(), _kg_labels(spark, n))


def _q_kg_toc_pagesets(spark, sf_dir, n):
    from ferenda_spark.operators.facetlib import default_facets, toc_pagesets
    from ferenda_spark.operators.facets import faceted_data
    return toc_pagesets(faceted_data(_kg_read(spark, "triples", n)),
                        default_facets(), _kg_labels(spark, n))


def _q_kg_facet_stats(spark, sf_dir, n):
    from ferenda_spark.operators.facets import facet_stats
    return facet_stats(_kg_read(spark, "triples", n))


def _q_kg_ispartof_closure(spark, sf_dir, n):
    from ferenda_spark.graph.closure import ispartof_closure
    return ispartof_closure(_kg_read(spark, "triples", n))


def _q_kg_inbound_refs(spark, sf_dir, n):
    from ferenda_spark.operators.relate import inbound_references
    return inbound_references(_kg_read(spark, "triples", n))


def _q_kg_pagerank(spark, sf_dir, n):
    from ferenda_spark.operators.graphops import citation_edges, pagerank
    return pagerank(citation_edges(_kg_read(spark, "triples", n)))


def _q_kg_ppr(spark, sf_dir, n):
    """Personalized PageRank (graphops.personalized_pagerank):
    citation-graph importance relative to a seed neighborhood —
    teleport n/|S| on the bare document resources (no #fragment —
    the documents themselves, not their parts), 0 elsewhere; same hybrid power iteration and
    dangling handling as kg_pagerank, oracled by the unrolled
    seed-weighted CTE."""
    from ferenda_spark.operators.graphops import (citation_edges,
                                                  personalized_pagerank)
    edges = citation_edges(_kg_read(spark, "triples", n))
    nodes = (edges.select(F.col("src").alias("node"))
             .unionByName(edges.select(F.col("dst").alias("node")))
             .distinct())
    seeds = nodes.where(~F.col("node").like("%#%"))
    return personalized_pagerank(edges, seeds)


def _q_kg_walks(spark, sf_dir, n):
    """Deterministic random walks over the citation graph
    (graphops.random_walks): the DeepWalk corpus-prep step — 2 walks
    of length 6 from every node, step choice via the shared md5-hex
    device so the recursive-CTE twin reproduces every walk."""
    from ferenda_spark.operators.graphops import (citation_edges,
                                                  random_walks)
    return random_walks(citation_edges(_kg_read(spark, "triples", n)),
                        length=6, walks_per_node=2)


def _q_kg_walk_pairs(spark, sf_dir, n):
    """Skip-gram pairs over the deterministic walks
    (graphops.walk_pairs): window-2 co-occurrence counts — the
    embedding trainer's input; oracle = the walks CTE self-joined
    under the same window rule."""
    from ferenda_spark.operators.graphops import (citation_edges,
                                                  random_walks,
                                                  walk_pairs)
    walks = random_walks(citation_edges(_kg_read(spark, "triples", n)),
                         length=6, walks_per_node=2)
    return walk_pairs(walks, window=2)


def _q_kg_pmi(spark, sf_dir, n):
    """PMI/PPMI association scores over the skip-gram pairs
    (graphops.pmi_scores): ln(n_pairs·N / (cnt_c·cnt_x)) — the matrix
    an SGNS embedding factorizes (Levy & Goldberg 2014), completing
    the walks → pairs → PMI corpus-prep chain; oracle = the identical
    arithmetic over the walk-pairs CTE."""
    from ferenda_spark.operators.graphops import (citation_edges,
                                                  pmi_scores,
                                                  random_walks,
                                                  walk_pairs)
    walks = random_walks(citation_edges(_kg_read(spark, "triples", n)),
                         length=6, walks_per_node=2)
    return pmi_scores(walk_pairs(walks, window=2))


def _q_kg_linkpred(spark, sf_dir, n):
    """Adamic–Adar link prediction over the citation graph
    (graphops.adamic_adar): for every non-adjacent undirected pair
    sharing a neighbor, Σ 1/ln(deg z) over the common neighbors —
    the "entities that should probably be linked" signal; oracle =
    the same wedge join + NOT EXISTS exclusion in DuckDB."""
    from ferenda_spark.operators.graphops import adamic_adar, citation_edges
    return adamic_adar(citation_edges(_kg_read(spark, "triples", n)))


def _q_kg_kcore(spark, sf_dir, n):
    """2-core of the walk co-occurrence graph (graphops.kcore):
    degree peeling to fixpoint under the shared KCORE_ROUNDS cap —
    the density filter before community/embedding stages. The edge
    set is walk_pairs' window-2 co-occurrences (any 3-node walk
    window forms a triangle, so the core is non-trivial where the
    bare citation tree's would be empty); oracle = the identical
    peeling unrolled in DuckDB over the same pairs CTE (shared cap,
    so both engines agree by construction)."""
    from ferenda_spark.operators.graphops import (citation_edges, kcore,
                                                  random_walks,
                                                  walk_pairs)
    pairs = walk_pairs(
        random_walks(citation_edges(_kg_read(spark, "triples", n)),
                     length=6, walks_per_node=2), window=2)
    return kcore(pairs.select(F.col("center").alias("src"),
                              F.col("context").alias("dst")), k=2)


def _q_kg_negatives(spark, sf_dir, n):
    """Filtered negative sampling over the citation edges
    (graphops.negative_samples): each positive's tail corrupted twice
    via the shared md5 device against dense (bucket, node)-ordered
    node ids, true-edge/self collisions filtered — the KG-embedding
    trainer's contrastive input; oracle = one global row_number +
    the same corruption formula."""
    from ferenda_spark.operators.graphops import (citation_edges,
                                                  negative_samples)
    return negative_samples(citation_edges(_kg_read(spark, "triples", n)),
                            per_positive=2)


def _q_kg_cocitation(spark, sf_dir, n):
    """Co-citation + bibliographic coupling (Small 1973 / Kessler
    1963) over the citation graph (graphops.cocitation_coupling):
    the two classic pairwise-similarity signals, each one wedge
    self-join keyed on the shared endpoint; same-join twin."""
    from ferenda_spark.operators.graphops import cocitation_coupling
    # over the full link graph (references ∪ isPartOf): the corpus's
    # reference edges are 1:1 by construction, so the containment
    # edges supply the shared endpoints — siblings sharing a parent
    # couple, a child's parent and its referenced doc co-cite
    t = _kg_read(spark, "triples", n)
    edges = (t.where(F.col("predicate").isin(
                "http://purl.org/dc/terms/references",
                "http://purl.org/dc/terms/isPartOf") &
                (F.col("objtype") == "uri"))
             .select(F.col("subject").alias("src"),
                     F.col("object").alias("dst"))
             .where(F.col("src") != F.col("dst")))
    return cocitation_coupling(edges)


def _q_kg_charsets(spark, sf_dir, n):
    """Characteristic-set census (Neumann & Moerkotte ICDE 2011) over
    the triple table (graphops.characteristic_sets): each subject's
    sorted predicate set + census — the cardinality-estimation
    artifact star-join SPARQL optimizers read instead of sampling;
    string_agg twin."""
    from ferenda_spark.operators.graphops import characteristic_sets
    return characteristic_sets(_kg_read(spark, "triples", n))


def _q_kg_distances(spark, sf_dir, n):
    """Multi-source BFS distances (graphops.bfs_distances): hop count
    from the nearest document root over the containment+reference
    graph (hasPart direction ∪ references) — one frontier join per
    round under the shared BFS_ROUNDS cap, min-dist on first visit;
    oracle = the bounded recursive expansion with min(dist)."""
    from ferenda_spark.operators.graphops import bfs_distances
    t = _kg_read(spark, "triples", n)
    refs = (t.where((F.col("predicate") ==
                     "http://purl.org/dc/terms/references") &
                    (F.col("objtype") == "uri"))
            .select(F.col("subject").alias("src"),
                    F.col("object").alias("dst")))
    parts = (t.where((F.col("predicate") ==
                      "http://purl.org/dc/terms/isPartOf") &
                     (F.col("objtype") == "uri"))
             .select(F.col("object").alias("src"),
                     F.col("subject").alias("dst")))
    seeds = _kg_read(spark, "documents", n).select(
        F.col("uri").alias("node"))
    return bfs_distances(refs.unionByName(parts), seeds)


def _q_kg_modularity(spark, sf_dir, n):
    """Newman-Girvan modularity of the label-propagation communities
    over the citation graph (graphops.modularity): per-community
    Q_c = e_c/m − (d_c/2m)² + the '__Q__' total — the quality score
    closing the community-detection loop; oracle = the identical
    arithmetic over the unrolled-LPA assignment CTE."""
    from ferenda_spark.operators.graphops import (citation_edges,
                                                  label_propagation,
                                                  modularity)
    edges = citation_edges(_kg_read(spark, "triples", n))
    return modularity(edges, label_propagation(edges))


def _q_kg_completeness(spark, sf_dir, n):
    """KG completeness profile (validate.completeness_report): per
    (class × non-type predicate) the fraction of the class's subjects
    carrying the predicate, zero-filled over the schema-sized grid —
    the curation-priority table; same-join twin."""
    from ferenda_spark.operators.validate import completeness_report
    return completeness_report(_kg_read(spark, "triples", n))


_KG_LINK_EDGES_CTE = (
    "e AS (SELECT subject AS src, object AS dst FROM "
    "read_parquet('%s') WHERE predicate IN "
    "('http://purl.org/dc/terms/references', "
    "'http://purl.org/dc/terms/isPartOf') AND objtype = 'uri')")


def _kg_link_edges(spark, n):
    t = _kg_read(spark, "triples", n)
    return (t.where(F.col("predicate").isin(
                "http://purl.org/dc/terms/references",
                "http://purl.org/dc/terms/isPartOf") &
                (F.col("objtype") == "uri"))
            .select(F.col("subject").alias("src"),
                    F.col("object").alias("dst"))
            .where(F.col("src") != F.col("dst")))


def _q_kg_degree_dist(spark, sf_dir, n):
    """Undirected degree distribution of the link graph
    (graphops.degree_histogram): the first census anyone plots over
    a web graph; node-sized degree count + max_deg-bounded
    histogram."""
    from ferenda_spark.operators.graphops import degree_histogram
    return degree_histogram(_kg_link_edges(spark, n))


def _q_kg_graph_stats(spark, sf_dir, n):
    """One-look graph census (graphops.graph_stats): n/m/max/mean
    degree, the CSN-2009 power-law MLE exponent (histogram-folded ln
    sum, rounded to 4) and Newman-2002 degree assortativity computed
    ENTIRELY from integer moment sums — no corpus-sized float fold."""
    from ferenda_spark.operators.graphops import graph_stats
    return graph_stats(_kg_link_edges(spark, n))


def _q_kg_summaries(spark, sf_dir, n):
    """Entity summarization (graphops.entity_summaries): top-3 most
    informative facts per entity under the predicate-IDF relevance
    model (LinkSUM-style), total tie-break, WindowGroupLimit plan;
    same-ranking twin."""
    from ferenda_spark.operators.graphops import entity_summaries
    return entity_summaries(_kg_read(spark, "triples", n))


def _q_kg_title_pairs(spark, sf_dir, n):
    """Blocked ER candidate pairs (operators/linking.blocked_pairs):
    documents whose ASCII-projected titles share a (16-char prefix,
    exact length) block and sit within Levenshtein 2 — the classic
    cheap pass before an expensive scorer; the projection makes
    Spark's codepoint distance ≡ DuckDB's byte distance."""
    from ferenda_spark.operators.linking import blocked_pairs
    return blocked_pairs(_kg_read(spark, "documents", n))


def _q_kg_hits(spark, sf_dir, n):
    from ferenda_spark.operators.graphops import citation_edges, hits
    return hits(citation_edges(_kg_read(spark, "triples", n)))


def _q_kg_citation_degrees(spark, sf_dir, n):
    from ferenda_spark.operators.graphops import citation_edges, degrees
    return degrees(citation_edges(_kg_read(spark, "triples", n)))


def _q_kg_citation_map(spark, sf_dir, n):
    """Gold-standard ranking evaluation (ref graphanalyze.py:760-806):
    information needs = the corpus keywords (sanitized dcterms:subject
    tags), gold set = the docs carrying each tag, ranking = citation
    pagerank (desc, uri tie-break). AP per need + the '__MAP__' row."""
    from pyspark.sql import Window
    from ferenda_spark.operators.graphops import (
        citation_edges, pagerank, ranked_average_precision)
    pr = pagerank(citation_edges(_kg_read(spark, "triples", n)))
    ranked = pr.select(
        F.col("node").alias("uri"),
        F.row_number().over(
            Window.orderBy(F.desc("rank"), F.asc("node"))).alias("pos"))
    sanitized = F.trim(F.regexp_replace("object", r"[\[\]{}|#<>&]", ""))
    gold = (_kg_read(spark, "triples_raw", n)
            .where(F.col("predicate") ==
                   "http://purl.org/dc/terms/subject")
            .select(sanitized.alias("need"),
                    F.col("subject").alias("uri"))
            .where(F.col("need") != "").distinct())
    return ranked_average_precision(ranked, gold)


def _q_kg_triangles(spark, sf_dir, n):
    """Per-node triangle counts over the undirected citation graph —
    degree-ordered orientation so the wedge join never explodes on
    hubs (graphops.triangle_counts)."""
    from ferenda_spark.operators.graphops import (
        citation_edges, triangle_counts)
    return triangle_counts(citation_edges(_kg_read(spark, "triples", n)))


def _q_kg_communities(spark, sf_dir, n):
    """Deterministic synchronous label propagation (4 fixed rounds,
    most-frequent neighbor label, smallest-label tie-break) — the
    community assignment over the citation graph
    (graphops.label_propagation)."""
    from ferenda_spark.operators.graphops import (
        citation_edges, label_propagation)
    return label_propagation(citation_edges(_kg_read(spark, "triples", n)))


def _webgraph_injected_edges(spark, sf_dir) -> DataFrame:
    """Deterministic page-level link edges (src URL, dst URL) derived
    from documents (twin: WEBGRAPH_EDGES_SQL): mixed-case hosts +
    ``www.`` exercise normalization, the (doc_id*3+1)%7 target makes
    1/7 of the base edges intra-host (dropped by the rollup), every
    4th doc links the hub host, every 9th emits a schemeless mailto
    (dropped — no http(s) host)."""
    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id")

    def s(c):
        return c.cast("string")

    src = F.concat(F.lit("https://WWW.Site"), s(d % 7),
                   F.lit(".example/p/"), s(d))
    a = docs.select(
        src.alias("src"),
        F.concat(F.lit("https://site"), s((d * 3 + 1) % 7),
                 F.lit(".example/q/"), s(d % 10)).alias("dst"))
    b = docs.where(d % 4 == 0).select(
        src.alias("src"), F.lit("https://HUB.Example/").alias("dst"))
    c = docs.where(d % 9 == 0).select(
        src.alias("src"), F.lit("mailto:spam@example").alias("dst"))
    return a.unionAll(b).unionAll(c)


# SQL twin of _webgraph_injected_edges — change BOTH or parity breaks
WEBGRAPH_EDGES_SQL = (
    "(SELECT 'https://WWW.Site' || (doc_id % 7)::varchar"
    "        || '.example/p/' || doc_id::varchar AS src,"
    "        'https://site' || ((doc_id * 3 + 1) % 7)::varchar"
    "        || '.example/q/' || (doc_id % 10)::varchar AS dst"
    " FROM documents"
    " UNION ALL"
    " SELECT 'https://WWW.Site' || (doc_id % 7)::varchar"
    "        || '.example/p/' || doc_id::varchar,"
    "        'https://HUB.Example/'"
    " FROM documents WHERE doc_id % 4 = 0"
    " UNION ALL"
    " SELECT 'https://WWW.Site' || (doc_id % 7)::varchar"
    "        || '.example/p/' || doc_id::varchar,"
    "        'mailto:spam@example'"
    " FROM documents WHERE doc_id % 9 = 0)")

# normalized-host expression shared by both host-graph oracle queries
# (RE2 twin of graphops.host_col)
_HOST_SQL = ("regexp_replace(lower(regexp_extract(%s,"
             " 'https?://([A-Za-z0-9.-]+)', 1)), '^www\\.', '')")

HOST_GRAPH_SQL = f"""
    WITH h AS (
      SELECT {_HOST_SQL % 'src'} AS src_host,
             {_HOST_SQL % 'dst'} AS dst_host
      FROM {WEBGRAPH_EDGES_SQL} e0)
    SELECT src_host, dst_host, count(*) AS weight
    FROM h
    WHERE src_host <> '' AND dst_host <> '' AND src_host <> dst_host
    GROUP BY src_host, dst_host
    ORDER BY weight DESC, src_host, dst_host"""

# weighted host edges CTE for kgoracle.sql_weighted_pagerank —
# identical weight rule to HOST_GRAPH_SQL / graphops.host_graph
HOST_WEDGES_CTE = f"""e AS (
      SELECT src_host AS src, dst_host AS dst,
             count(*)::DOUBLE AS w FROM (
        SELECT {_HOST_SQL % 'src'} AS src_host,
               {_HOST_SQL % 'dst'} AS dst_host
        FROM {WEBGRAPH_EDGES_SQL} e0) h
      WHERE src_host <> '' AND dst_host <> '' AND src_host <> dst_host
      GROUP BY src_host, dst_host)"""

# edges CTE handed to kgoracle.sql_pagerank for kg_domain_pagerank
HOST_EDGES_CTE = f"""e AS (
      SELECT DISTINCT src_host AS src, dst_host AS dst FROM (
        SELECT {_HOST_SQL % 'src'} AS src_host,
               {_HOST_SQL % 'dst'} AS dst_host
        FROM {WEBGRAPH_EDGES_SQL} e0) h
      WHERE src_host <> '' AND dst_host <> '' AND src_host <> dst_host)"""


def _q_kg_host_graph(spark, sf_dir, n):
    """Host-level web-graph rollup: page link edges → (src_host,
    dst_host, weight), the Common-Crawl domain-graph aggregation —
    one map-side-combined hash agg (graphops.host_graph)."""
    from ferenda_spark.operators.graphops import host_graph
    return host_graph(_webgraph_injected_edges(spark, sf_dir))


def _q_kg_domain_pagerank(spark, sf_dir, n):
    """PageRank over the host-level graph (domain ranking, the
    CC-webgraph use of the rollup) — same hybrid power iteration as
    kg_pagerank, fed by host_graph (graphops.pagerank)."""
    from ferenda_spark.operators.graphops import host_graph, pagerank
    hg = host_graph(_webgraph_injected_edges(spark, sf_dir))
    return pagerank(hg.select(F.col("src_host").alias("src"),
                              F.col("dst_host").alias("dst")))


def _q_kg_domain_pagerank_weighted(spark, sf_dir, n):
    """Weighted PageRank over the host graph
    (graphops.weighted_pagerank): rank splits over out-edges in
    proportion to collapsed-link weight — the correct CC-style domain
    ranking (the unweighted variant treats a 10 000-link host pair
    like a 1-link one); same hybrid/round structure as pagerank,
    unrolled weighted-CTE oracle."""
    from ferenda_spark.operators.graphops import (host_graph,
                                                  weighted_pagerank)
    hg = host_graph(_webgraph_injected_edges(spark, sf_dir))
    return weighted_pagerank(
        hg.select(F.col("src_host").alias("src"),
                  F.col("dst_host").alias("dst"), "weight"))


def _structdata_injected_pages(spark, sf_dir) -> DataFrame:
    """Pages with embedded structured data, generated by formula from
    doc_id (twin: STRUCTDATA_SQL states the EXPECTED triples by the
    same formula — a generative oracle that never runs a parser): one
    JSON-LD Article (context normalization, @id, numbers, arrays, a
    nested bnode Person), a malformed JSON-LD block on every 11th doc
    (must be skipped), and one microdata Product (itemid, text / href
    / meta-content values, relative-URL resolution)."""
    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id")

    def s(c):
        return c.cast("string")

    url = F.concat(F.lit("https://site"), s(d % 7),
                   F.lit(".example/p/"), s(d))
    j = F.concat(
        F.lit('<script type="application/ld+json">'
              '{"@context":"https://schema.org","@id":"'), url,
        F.lit('","@type":"Article","headline":"Doc '), s(d),
        F.lit('","wordCount":'), s(d % 100),
        F.lit(',"keywords":["k'), s(d % 2), F.lit('","k'), s(d % 3),
        F.lit('"],"author":{"@type":"Person","name":"Author '),
        s(d % 5), F.lit('"}}</script>'))
    bad = F.when(d % 11 == 0,
                 F.lit('<script type="application/ld+json">'
                       "{oops</script>")).otherwise(F.lit(""))
    m = F.concat(
        F.lit('<div itemscope itemtype="https://schema.org/Product"'
              ' itemid="https://site'), s(d % 7),
        F.lit(".example/prod/"), s(d % 13),
        F.lit('"><span itemprop="name">Product '), s(d % 13),
        F.lit('</span><a itemprop="url" href="/buy/'), s(d % 13),
        F.lit('">buy</a><meta itemprop="sku" content="SKU-'),
        s(d % 13), F.lit('"></div>'))
    html = F.concat(F.lit("<html><head>"), j, bad,
                    F.lit("</head><body>"), m,
                    F.lit("</body></html>"))
    return docs.select(url.alias("url"), html.alias("html"))


_RDF_TYPE_URI = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

# generative twin of structured_triples over _structdata_injected_pages
# — states the expected triples directly from the doc_id formulas
# (change the corpus and this list together or parity breaks)
STRUCTDATA_SQL = f"""
    WITH d AS (
      SELECT doc_id,
        'https://site' || (doc_id % 7)::varchar || '.example/p/'
          || doc_id::varchar AS url,
        'https://site' || (doc_id % 7)::varchar || '.example/prod/'
          || (doc_id % 13)::varchar AS prod,
        'https://site' || (doc_id % 7)::varchar || '.example/buy/'
          || (doc_id % 13)::varchar AS buy
      FROM documents)
    SELECT url AS source_url, 'jsonld' AS syntax, url AS subject,
           '{_RDF_TYPE_URI}' AS predicate,
           'http://schema.org/Article' AS object, 'uri' AS objtype
    FROM d
    UNION ALL SELECT url, 'jsonld', url, 'http://schema.org/headline',
           'Doc ' || doc_id::varchar, 'literal' FROM d
    UNION ALL SELECT url, 'jsonld', url, 'http://schema.org/wordCount',
           (doc_id % 100)::varchar, 'literal' FROM d
    UNION ALL SELECT url, 'jsonld', url, 'http://schema.org/keywords',
           'k' || (doc_id % 2)::varchar, 'literal' FROM d
    UNION ALL SELECT url, 'jsonld', url, 'http://schema.org/keywords',
           'k' || (doc_id % 3)::varchar, 'literal' FROM d
    UNION ALL SELECT url, 'jsonld', url, 'http://schema.org/author',
           '_:b0', 'bnode' FROM d
    UNION ALL SELECT url, 'jsonld', '_:b0', '{_RDF_TYPE_URI}',
           'http://schema.org/Person', 'uri' FROM d
    UNION ALL SELECT url, 'jsonld', '_:b0', 'http://schema.org/name',
           'Author ' || (doc_id % 5)::varchar, 'literal' FROM d
    UNION ALL SELECT url, 'microdata', prod, '{_RDF_TYPE_URI}',
           'https://schema.org/Product', 'uri' FROM d
    UNION ALL SELECT url, 'microdata', prod,
           'https://schema.org/name',
           'Product ' || (doc_id % 13)::varchar, 'literal' FROM d
    UNION ALL SELECT url, 'microdata', prod,
           'https://schema.org/url', buy, 'uri' FROM d
    UNION ALL SELECT url, 'microdata', prod,
           'https://schema.org/sku',
           'SKU-' || (doc_id % 13)::varchar, 'literal' FROM d"""


def _warc_injected_blobs(spark, sf_dir) -> DataFrame:
    """Synthetic WARC segment blobs, 8 docs per blob, built with the
    REAL writer kernel (warcrec.build_response/build_record) so the
    parser is exercised against genuine container bytes: one HTTP
    response record per doc (404 on every 17th), plus a non-HTTP
    metadata record on every 13th. The twin (WARC_SQL) states the
    expected records by formula — it never parses."""
    docs = _read(spark, sf_dir, "documents").select("doc_id")

    def build(pdf):
        import pandas as pd

        from ferenda_spark.warcrec import build_record, build_response
        pdf = pdf.sort_values("doc_id")
        parts = []
        for d in pdf["doc_id"]:
            d = int(d)
            url = "https://site%d.example/p/%d" % (d % 7, d)
            date = ("2026-02-%02dT%02d:%02d:%02dZ"
                    % (1 + d % 28, d % 24, d % 60, (3 * d) % 60))
            suffix = (" is the page and it is here"
                      if d % 2 == 0 else "")
            body = ("<html><body><p>Doc %d%s</p></body></html>"
                    % (d, suffix)).encode()
            parts.append(build_response(
                url, date, body, status=404 if d % 17 == 0 else 200))
            if d % 13 == 0:
                parts.append(build_record(
                    "metadata", url, date, b"via: crawler\r\n",
                    "application/warc-fields"))
        return pd.DataFrame({"blob_id": [int(pdf["blob_id"].iloc[0])],
                             "warc": [b"".join(parts)]})

    return (docs.withColumn("blob_id",
                            F.floor(F.col("doc_id") / 8).cast("long"))
            .groupBy("blob_id")
            .applyInPandas(build, "blob_id long, warc binary"))


# generative twin of warc_records over _warc_injected_blobs — states
# the expected record rows from the doc_id formulas (change BOTH or
# parity breaks)
WARC_SQL = """
    WITH d AS (
      SELECT doc_id,
        'https://site' || (doc_id % 7)::varchar || '.example/p/'
          || doc_id::varchar AS url,
        '2026-02-' || lpad((1 + doc_id % 28)::varchar, 2, '0')
          || 'T' || lpad((doc_id % 24)::varchar, 2, '0')
          || ':' || lpad((doc_id % 60)::varchar, 2, '0')
          || ':' || lpad(((3 * doc_id) % 60)::varchar, 2, '0')
          || 'Z' AS dt,
        CASE WHEN doc_id % 2 = 0 THEN ' is the page and it is here'
             ELSE '' END AS suffix
      FROM documents)
    SELECT url, 'response' AS rec_type, dt AS warc_date,
           CASE WHEN doc_id % 17 = 0 THEN 404 ELSE 200 END
             AS http_status,
           'text/html' AS mime,
           '<html><body><p>Doc ' || doc_id::varchar || suffix
             || '</p></body></html>' AS text
    FROM d
    UNION ALL
    SELECT url, 'metadata', dt, NULL, NULL,
           'via: crawler' || chr(13) || chr(10)
    FROM d WHERE doc_id % 13 = 0"""


_STRUCTDATA_SPARQL = """
PREFIX s: <http://schema.org/>
PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
SELECT ?name (COUNT(?a) AS ?n_articles) WHERE {
  GRAPH ?g {
    ?a rdf:type s:Article .
    ?a s:author ?b .
    ?b s:name ?name .
  }
}
GROUP BY ?name
ORDER BY ?name
"""


def _q_kg_sparql_structdata(spark, sf_dir, n):
    """SPARQL over freshly-extracted structured-data triples — the
    integration seam: JSON-LD bnode labels are page-scoped, so the
    author traversal (?a s:author ?b . ?b s:name ?name) is only sound
    under GRAPH ?g per-page co-location (context = page URL), exactly
    the quad-store model kg_sparql_graphvar established. Oracle: the
    compiler's own SQL emission over the GENERATIVE triple formula —
    neither side parses HTML on the oracle path."""
    from ferenda_spark import sparql
    from ferenda_spark.operators.structdata import structured_triples
    quads = (structured_triples(_structdata_injected_pages(spark,
                                                           sf_dir))
             .withColumn("context", F.col("source_url"))
             .withColumn("lang", F.lit(None).cast("string"))
             .withColumn("datatype", F.lit(None).cast("string")))
    return sparql.compile_spark(quads, _STRUCTDATA_SPARQL)


# generative twin of the same-SKU consolidation: product itemids
# repeat per (host=d%7, prod=d%13) pair, so each distinct sku's page
# census and canonical (min) URI are closed-form over d mod 91
STRUCT_ENTITIES_SQL = """
    WITH sd AS (
      SELECT 'SKU-' || (doc_id % 13)::varchar AS sku,
             'https://site' || (doc_id % 7)::varchar
               || '.example/prod/' || (doc_id % 13)::varchar AS uri
      FROM documents)
    SELECT sku,
           min(uri) AS canonical_uri,
           count(*)::BIGINT AS n_pages,
           count(DISTINCT uri)::BIGINT AS n_aliases
    FROM sd GROUP BY sku"""


def _q_structdata_entities(spark, sf_dir, n):
    """Entity consolidation over extracted structured data (the Web
    Data Commons product-merge step): products sharing a literal sku
    collapse to one canonical URI (min) with page + alias censuses —
    one map-side-combined hash agg over the (sku, subject) pairs the
    extraction emits; the heavy lifting (parsing) is the upstream
    oracled operator. Generative oracle."""
    from ferenda_spark.operators.structdata import structured_triples
    t = structured_triples(
        _structdata_injected_pages(spark, sf_dir),
        syntaxes=("microdata",))
    skus = (t.where(F.col("predicate") == "https://schema.org/sku")
            .select(F.col("object").alias("sku"),
                    F.col("subject").alias("uri")))
    return (skus.groupBy("sku")
            .agg(F.min("uri").alias("canonical_uri"),
                 F.count(F.lit(1)).alias("n_pages"),
                 F.countDistinct("uri").alias("n_aliases")))


def _q_warc_ingest(spark, sf_dir, n):
    """WARC segment ingestion (the Common-Crawl input format): blob →
    typed record rows in one shuffle-free Arrow stage, HTTP responses
    unwrapped (operators/warc.py; kernels ferenda_spark/warcrec.py).
    The corpus is written by the real writer kernel; the oracle is
    generative."""
    from ferenda_spark.operators.warc import warc_records
    recs = warc_records(_warc_injected_blobs(spark, sf_dir))
    return recs.select(
        "url", "rec_type", "warc_date", "http_status", "mime",
        F.decode(F.col("payload"), "UTF-8").alias("text"))


_ROBOTS_TXT = """# crawl policy
User-agent: foo
Disallow: /

User-agent: bar
User-agent: *
Disallow: /private/
Allow: /private/ok
Disallow: /*?utm_
Disallow: /tmp$
Allow: /t1/
Disallow: /t1/
"""


def _robots_injected(spark, sf_dir):
    """(urls, robots) for the robots_filter driver query. Path case
    c = doc_id%7 exercises: 0 no-rule allow, 1 prefix deny, 2
    longer-Allow override, 3 wildcard deny, 4 $-anchor deny, 5
    $-anchor miss, 6 length-tie Allow-wins; host h = doc_id%5 with
    robots.txt present only for hosts 0-3 (h=4 → allow-all). The twin
    (ROBOTS_SQL) states the verdicts by this formula."""
    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id")

    def s(c):
        return c.cast("string")

    path = (F.when(d % 7 == 0, F.concat(F.lit("/public/"), s(d)))
            .when(d % 7 == 1, F.concat(F.lit("/private/"), s(d)))
            .when(d % 7 == 2, F.concat(F.lit("/private/ok/"), s(d)))
            .when(d % 7 == 3,
                  F.concat(F.lit("/page/"), s(d),
                           F.lit("?utm_source=x")))
            .when(d % 7 == 4, F.lit("/tmp"))
            .when(d % 7 == 5, F.concat(F.lit("/tmp/"), s(d)))
            .otherwise(F.concat(F.lit("/t1/"), s(d))))
    urls = docs.select(
        F.concat(F.lit("https://site"), s(d % 5), F.lit(".example"),
                 path).alias("url"))
    robots = spark.createDataFrame(
        [("site%d.example" % h, _ROBOTS_TXT) for h in range(4)],
        "host string, robots_txt string")
    return urls, robots


# generative twin of robots_filter over _robots_injected — the RFC
# 9309 verdicts stated by formula (change BOTH or parity breaks)
ROBOTS_SQL = """
    SELECT 'https://site' || (doc_id % 5)::varchar || '.example'
           || CASE (doc_id % 7)
              WHEN 0 THEN '/public/' || doc_id::varchar
              WHEN 1 THEN '/private/' || doc_id::varchar
              WHEN 2 THEN '/private/ok/' || doc_id::varchar
              WHEN 3 THEN '/page/' || doc_id::varchar || '?utm_source=x'
              WHEN 4 THEN '/tmp'
              WHEN 5 THEN '/tmp/' || doc_id::varchar
              ELSE '/t1/' || doc_id::varchar END AS url,
           'site' || (doc_id % 5)::varchar || '.example' AS host,
           (doc_id % 5 = 4 OR (doc_id % 7) IN (0, 2, 5, 6)) AS allowed
    FROM documents
    ORDER BY url"""


def _q_robots_filter(spark, sf_dir, n):
    """RFC 9309 crawl admission: per-URL allow/deny verdicts against
    per-host robots.txt — zero corpus shuffles (broadcast rule arrays
    + one map-side higher-order fold; operators/crawl.robots_filter,
    kernels ferenda_spark/robots.py). Generative oracle."""
    from ferenda_spark.operators.crawl import robots_filter
    urls, robots = _robots_injected(spark, sf_dir)
    return robots_filter(urls, robots)


def _warc_recrawl_blobs(spark, sf_dir) -> DataFrame:
    """Second-crawl blobs for every 3rd doc: same URL, later
    WARC-Date (2026-05-01), 'v2' body — the newer capture
    latest_captures must pick. blob_id offset by 10000 so the two
    crawls' record addresses never collide."""
    docs = (_read(spark, sf_dir, "documents").select("doc_id")
            .where(F.col("doc_id") % 3 == 0))

    def build(pdf):
        import pandas as pd

        from ferenda_spark.warcrec import build_response
        pdf = pdf.sort_values("doc_id")
        parts = []
        for d in pdf["doc_id"]:
            d = int(d)
            url = "https://site%d.example/p/%d" % (d % 7, d)
            if d % 6 == 0:
                # unchanged re-crawl: byte-identical to the crawl-1
                # body (d is even → the English suffix is present) —
                # the revisit_stats 'content did not change' case
                body = ("<html><body><p>Doc %d is the page and it is"
                        " here</p></body></html>" % d).encode()
            else:
                body = ("<html><body><p>Doc %d v2</p></body></html>"
                        % d).encode()
            parts.append(build_response(
                url, "2026-05-01T00:00:00Z", body))
        return pd.DataFrame(
            {"blob_id": [10000 + int(pdf["blob_id"].iloc[0])],
             "warc": [b"".join(parts)]})

    return (docs.withColumn("blob_id",
                            F.floor(F.col("doc_id") / 8).cast("long"))
            .groupBy("blob_id")
            .applyInPandas(build, "blob_id long, warc binary"))


# generative twin of latest_captures over crawl-1 ∪ crawl-2 response
# records: every 3rd doc's newest capture is the re-crawl, the rest
# keep their crawl-1 row (change the builders and this together)
LATEST_CAPTURES_SQL = """
    WITH d AS (
      SELECT doc_id,
        'example,site' || (doc_id % 7)::varchar || ')/p/'
          || doc_id::varchar AS surt,
        'https://site' || (doc_id % 7)::varchar || '.example/p/'
          || doc_id::varchar AS url,
        '2026-02-' || lpad((1 + doc_id % 28)::varchar, 2, '0')
          || 'T' || lpad((doc_id % 24)::varchar, 2, '0')
          || ':' || lpad((doc_id % 60)::varchar, 2, '0')
          || ':' || lpad(((3 * doc_id) % 60)::varchar, 2, '0')
          || 'Z' AS dt
      FROM documents)
    SELECT surt,
           CASE WHEN doc_id % 3 = 0 THEN '2026-05-01T00:00:00Z'
                ELSE dt END AS warc_date,
           url, 'text/html' AS mime,
           CASE WHEN doc_id % 3 = 0 THEN 200
                WHEN doc_id % 17 = 0 THEN 404
                ELSE 200 END AS http_status,
           CASE WHEN doc_id % 3 = 0 THEN 10000 + doc_id // 8
                ELSE doc_id // 8 END AS blob_id
    FROM d"""


def _q_latest_captures(spark, sf_dir, n):
    """Latest-capture selection over a two-crawl CDX (the CC-index
    'newest capture' view / WARC-lake retention pass): one per-surt
    WindowGroupLimit, newest WARC-Date wins
    (operators/warc.latest_captures). Generative oracle."""
    from ferenda_spark.operators.warc import (cdx_index,
                                              latest_captures,
                                              warc_records)
    recs = (warc_records(_warc_injected_blobs(spark, sf_dir))
            .unionAll(warc_records(_warc_recrawl_blobs(spark,
                                                       sf_dir)))
            .where(F.col("rec_type") == "response"))
    return (latest_captures(cdx_index(recs), k=1)
            .select("surt", "warc_date", "url", "mime",
                    "http_status", "blob_id"))


# generative twin of revisit_stats over the two-crawl response set:
# every 3rd doc has two captures; every 6th doc's re-crawl body is
# byte-identical to crawl 1 (→ one revisit, one version)
REVISIT_SQL = """
    SELECT 'https://site' || (doc_id % 7)::varchar || '.example/p/'
             || doc_id::varchar AS url,
           (CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END)::BIGINT
             AS n_captures,
           (CASE WHEN doc_id % 6 = 0 THEN 1 ELSE 0 END)::BIGINT
             AS n_revisits,
           (CASE WHEN doc_id % 3 = 0 AND doc_id % 6 <> 0 THEN 2
                 ELSE 1 END)::BIGINT AS n_versions
    FROM documents"""


# generative twin of recrawl_priority over the same two-crawl
# response set (change the builders and this together): re-crawled
# docs' newest capture is the 2026-05-01 re-crawl, the rest keep the
# crawl-1 2026-02-x date; priority = versions/captures × days stale
# at now = 2026-06-01
RECRAWL_SQL = """
    WITH d AS (
      SELECT doc_id,
        'https://site' || (doc_id % 7)::varchar || '.example/p/'
          || doc_id::varchar AS url,
        (CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END)::BIGINT
          AS n_captures,
        (CASE WHEN doc_id % 3 = 0 AND doc_id % 6 <> 0 THEN 2
              ELSE 1 END)::BIGINT AS n_versions,
        CASE WHEN doc_id % 3 = 0 THEN DATE '2026-05-01'
             ELSE ('2026-02-'
                   || lpad((1 + doc_id % 28)::varchar, 2, '0'))::DATE
        END AS last_d
      FROM documents)
    SELECT url, n_captures, n_versions,
           date_diff('day', last_d, DATE '2026-06-01')::BIGINT
             AS age_days,
           round(n_versions::DOUBLE / n_captures
                 * date_diff('day', last_d, DATE '2026-06-01'), 6)
             AS priority
    FROM d ORDER BY priority DESC, url"""


def _q_recrawl_priority(spark, sf_dir, n):
    """Freshness-driven recrawl schedule over the two-crawl lake
    (crawl.recrawl_priority): change rate × staleness per URL —
    changed re-crawls carry rate 1, unchanged re-crawls rate 1/2,
    single captures rate 1 with the older February age; the
    closed-form generative oracle states every row's priority from
    the doc_id formulas."""
    from ferenda_spark.operators.crawl import recrawl_priority
    from ferenda_spark.operators.warc import warc_records
    recs = (warc_records(_warc_injected_blobs(spark, sf_dir))
            .unionAll(warc_records(_warc_recrawl_blobs(spark, sf_dir)))
            .where(F.col("rec_type") == "response"))
    caps = recs.select("url", "warc_date",
                       F.md5(F.col("payload")).alias("digest"))
    return recrawl_priority(caps, "2026-06-01")


def _q_revisit_stats(spark, sf_dir, n):
    """Per-URL capture-history stats over the two-crawl lake: revisit
    detection (digest unchanged vs previous capture — the WARC
    'revisit' record rationale) + version count; the change-rate
    signal a crawl scheduler feeds back (operators/warc.revisit_stats).
    Generative oracle."""
    from ferenda_spark.operators.warc import revisit_stats, warc_records
    recs = (warc_records(_warc_injected_blobs(spark, sf_dir))
            .unionAll(warc_records(_warc_recrawl_blobs(spark, sf_dir))))
    return revisit_stats(recs)


# exact expression twin of politeness_schedule over the robots URL
# corpus: same md5 rank device, same host rule, same floor division
POLITENESS_SQL = """
    WITH u AS (
      SELECT 'https://site' || (doc_id % 5)::varchar || '.example'
             || CASE (doc_id % 7)
                WHEN 0 THEN '/public/' || doc_id::varchar
                WHEN 1 THEN '/private/' || doc_id::varchar
                WHEN 2 THEN '/private/ok/' || doc_id::varchar
                WHEN 3 THEN '/page/' || doc_id::varchar
                            || '?utm_source=x'
                WHEN 4 THEN '/tmp'
                WHEN 5 THEN '/tmp/' || doc_id::varchar
                ELSE '/t1/' || doc_id::varchar END AS url
      FROM documents),
    h AS (
      SELECT url,
             regexp_replace(lower(regexp_extract(url,
               'https?://([A-Za-z0-9.-]+)', 1)), '^www\\.', '')
               AS host
      FROM u)
    SELECT url, host,
           (row_number() OVER (PARTITION BY host
                               ORDER BY md5(url), url) - 1) // 10
             AS slot
    FROM h"""


def _q_politeness_schedule(spark, sf_dir, n):
    """Crawl-frontier politeness sharding: per-host fetch slots of 10
    URLs (one host-keyed window; skewed hosts get more waves, never a
    hotter partition — operators/crawl.politeness_schedule). Oracle:
    the exact same md5-rank window in DuckDB."""
    from ferenda_spark.operators.crawl import politeness_schedule
    urls, _ = _robots_injected(spark, sf_dir)
    return politeness_schedule(urls, per_host_rate=10)


# generative twin of warc_to_pages: the north-rule input shape (url,
# warc_ts, html, text, lang) stated by formula — 200 text/html
# responses only, tags stripped, lang from the even-doc English suffix
WARC_PAGES_SQL = """
    WITH d AS (
      SELECT doc_id,
        'https://site' || (doc_id % 7)::varchar || '.example/p/'
          || doc_id::varchar AS url,
        '2026-02-' || lpad((1 + doc_id % 28)::varchar, 2, '0')
          || 'T' || lpad((doc_id % 24)::varchar, 2, '0')
          || ':' || lpad((doc_id % 60)::varchar, 2, '0')
          || ':' || lpad(((3 * doc_id) % 60)::varchar, 2, '0')
          || 'Z' AS dt,
        CASE WHEN doc_id % 2 = 0 THEN ' is the page and it is here'
             ELSE '' END AS suffix
      FROM documents WHERE doc_id % 17 <> 0)
    SELECT url,
           strftime(strptime(dt, '%Y-%m-%dT%H:%M:%SZ'),
                    '%Y-%m-%d %H:%M:%S') AS warc_ts,
           '<html><body><p>Doc ' || doc_id::varchar || suffix
             || '</p></body></html>' AS html,
           'Doc ' || doc_id::varchar || suffix AS text,
           CASE WHEN doc_id % 2 = 0 THEN 'en' ELSE 'und' END AS lang
    FROM d"""


def _q_warc_to_pages(spark, sf_dir, n):
    """WARC lake → the engine's canonical pages-table shape (url,
    warc_ts, html, text, lang) — the BASELINE input_hint contract,
    composed from already-oracled operators: warc_records ingestion,
    200/text-html admission, timestamp parse, tag-strip text, and
    language_id (joined back on url; in a production pipeline the lang
    score is a column expression — the join here keeps the oracled
    operator itself in the path). Generative oracle."""
    from ferenda_spark.operators.textops import language_id
    from ferenda_spark.operators.warc import warc_records
    recs = warc_records(_warc_injected_blobs(spark, sf_dir))
    pages = (recs.where((F.col("rec_type") == "response") &
                        (F.col("http_status") == 200) &
                        (F.col("mime") == "text/html"))
             .select("url",
                     # timestamp parse stays in the plan; the string
                     # render is the driver-compare convention
                     # (timestamps cross as strings, cf. events twins)
                     F.date_format(
                         F.to_timestamp("warc_date",
                                        "yyyy-MM-dd'T'HH:mm:ss'Z'"),
                         "yyyy-MM-dd HH:mm:ss").alias("warc_ts"),
                     F.decode(F.col("payload"), "UTF-8").alias("html")))
    pages = pages.withColumn(
        "text", F.regexp_replace(F.col("html"), "<[^>]+>", ""))
    lang = (language_id(pages, text_col="text", id_col="url")
            .select("url", F.col("lang_guess").alias("lang")))
    return pages.join(lang, "url").select(
        "url", "warc_ts", "html", "text", "lang")


# generative twin of cdx_index over the WARC corpus: the SURT key is
# itself a formula of doc_id (host labels reversed), so no expression
# twin is needed — offset is excluded (byte-position, not
# formula-known; it's covered by test_warc's offset assertions)
CDX_SQL = """
    WITH d AS (
      SELECT doc_id,
        'example,site' || (doc_id % 7)::varchar || ')/p/'
          || doc_id::varchar AS surt,
        'https://site' || (doc_id % 7)::varchar || '.example/p/'
          || doc_id::varchar AS url,
        '2026-02-' || lpad((1 + doc_id % 28)::varchar, 2, '0')
          || 'T' || lpad((doc_id % 24)::varchar, 2, '0')
          || ':' || lpad((doc_id % 60)::varchar, 2, '0')
          || ':' || lpad(((3 * doc_id) % 60)::varchar, 2, '0')
          || 'Z' AS dt,
        doc_id // 8 AS blob_id
      FROM documents)
    SELECT surt, dt AS warc_date, url, 'text/html' AS mime,
           CASE WHEN doc_id % 17 = 0 THEN 404 ELSE 200 END
             AS http_status,
           blob_id
    FROM d
    UNION ALL
    SELECT surt, dt, url, NULL, NULL, blob_id
    FROM d WHERE doc_id % 13 = 0"""


def _q_cdx_index(spark, sf_dir, n):
    """CDX lookup-index build over ingested WARC records: SURT keys +
    one global range sort — the artifact that makes a WARC lake
    random-accessible (operators/warc.cdx_index). Generative oracle
    (the SURT of a formula URL is itself a formula)."""
    from ferenda_spark.operators.warc import cdx_index, warc_records
    recs = warc_records(_warc_injected_blobs(spark, sf_dir))
    return cdx_index(recs).drop("offset")


def _sitemap_injected(spark, sf_dir) -> DataFrame:
    """Sitemap XML corpus by formula: every 4th doc a sitemapindex
    (two child sitemaps, one without lastmod), the rest urlsets with
    two entries — entry 1 carries an &amp; entity, lastmod, a
    changefreq on even docs and priority 0.(d%10); entry 2 has
    whitespace-padded loc and junk priority ('high' → NULL) on every
    3rd doc. Twin: SITEMAP_SQL states the rows by the same formula."""
    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id")

    def s(c):
        return c.cast("string")

    host = F.concat(F.lit("https://site"), s(d % 5), F.lit(".example"))
    urlset = F.concat(
        F.lit("<?xml version=\"1.0\"?><urlset><url><loc> "), host,
        F.lit("/p/"), s(d), F.lit("?a=1&amp;b=2 </loc>"
                                  "<lastmod>2026-01-15</lastmod>"),
        F.when(d % 2 == 0,
               F.lit("<changefreq>daily</changefreq>"))
         .otherwise(F.lit("")),
        F.lit("<priority>0."), s(d % 10), F.lit("</priority></url>"
                                                "<url><loc>\n  "),
        host, F.lit("/q/"), s(d), F.lit("\n</loc><priority>"),
        F.when(d % 3 == 0, F.lit("high")).otherwise(F.lit("1.0")),
        F.lit("</priority></url></urlset>"))
    index = F.concat(
        F.lit("<sitemapindex><sitemap><loc>"), host,
        F.lit("/sm-a-"), s(d), F.lit(".xml</loc>"
                                     "<lastmod>2026-03-01</lastmod>"
                                     "</sitemap><sitemap><loc>"),
        host, F.lit("/sm-b-"), s(d), F.lit(".xml</loc></sitemap>"
                                           "</sitemapindex>"))
    return docs.select(
        F.concat(host, F.lit("/sitemap-"), s(d), F.lit(".xml"))
        .alias("sitemap_url"),
        F.when(d % 4 == 0, index).otherwise(urlset).alias("xml"))


# generative twin of sitemap_entries over _sitemap_injected (change
# BOTH or parity breaks)
SITEMAP_SQL = """
    WITH d AS (
      SELECT doc_id,
        'https://site' || (doc_id % 5)::varchar || '.example' AS host
      FROM documents),
    u AS (SELECT * FROM d WHERE doc_id % 4 <> 0),
    i AS (SELECT * FROM d WHERE doc_id % 4 = 0)
    SELECT host || '/sitemap-' || doc_id::varchar || '.xml'
             AS sitemap_url,
           'url' AS kind,
           host || '/p/' || doc_id::varchar || '?a=1&b=2' AS loc,
           '2026-01-15' AS lastmod,
           CASE WHEN doc_id % 2 = 0 THEN 'daily' END AS changefreq,
           (doc_id % 10) / 10.0 AS priority
    FROM u
    UNION ALL
    SELECT host || '/sitemap-' || doc_id::varchar || '.xml', 'url',
           host || '/q/' || doc_id::varchar, NULL, NULL,
           CASE WHEN doc_id % 3 = 0 THEN NULL ELSE 1.0 END
    FROM u
    UNION ALL
    SELECT host || '/sitemap-' || doc_id::varchar || '.xml',
           'sitemap', host || '/sm-a-' || doc_id::varchar || '.xml',
           '2026-03-01', NULL, NULL
    FROM i
    UNION ALL
    SELECT host || '/sitemap-' || doc_id::varchar || '.xml',
           'sitemap', host || '/sm-b-' || doc_id::varchar || '.xml',
           NULL, NULL, NULL
    FROM i"""


def _q_sitemap_entries(spark, sf_dir, n):
    """Sitemap protocol parsing (urlset + sitemapindex → frontier
    seed rows): pure codegen, two regexp_extract_all/explode passes,
    entity decode + lenient priority (operators/crawl.sitemap_entries).
    Generative oracle."""
    from ferenda_spark.operators.crawl import sitemap_entries
    return sitemap_entries(_sitemap_injected(spark, sf_dir))


def _q_kg_structured_data(spark, sf_dir, n):
    """Embedded structured-data extraction (the Web Data Commons pass):
    JSON-LD script blocks + itemscope/itemprop microdata → triples in
    one shuffle-free Arrow stage (operators/structdata.py; kernels
    ferenda_spark/structdata.py). The oracle is generative — it states
    the expected triples from the corpus formulas without parsing."""
    from ferenda_spark.operators.structdata import structured_triples
    return structured_triples(_structdata_injected_pages(spark, sf_dir))


def _q_kg_rdfs_entailed(spark, sf_dir, n):
    """RDFS forward-chaining materialization (the batch analog of the
    reference triplestore's reasoner) under the corpus's published
    DCMI/BIBO axioms: one broadcast join per rule, distinct output."""
    from ferenda_spark.operators.inference import (
        CORPUS_ONTOLOGY, rdfs_materialize)
    return rdfs_materialize(_kg_read(spark, "triples", n), CORPUS_ONTOLOGY)


def _q_kg_owl_entailed(spark, sf_dir, n):
    """OWL-RL property-rule materialization (inference.owl_materialize)
    — prp-inv / prp-symp / prp-trp over the corpus axioms (transitive
    isPartOf with hasPart inverse, isReferencedBy inverse, sameAs
    symmetric+transitive): inverse/symmetric images broadcast-joined
    before and after ONE shared (predicate, node)-keyed closure;
    oracle = the same rules with a grouped recursive CTE."""
    from ferenda_spark.operators.inference import (
        CORPUS_OWL_ONTOLOGY, owl_materialize)
    return owl_materialize(_kg_read(spark, "triples", n),
                           CORPUS_OWL_ONTOLOGY)


_KG_UPDATE = """
PREFIX dcterms: <http://purl.org/dc/terms/>
PREFIX cur: <http://example.org/curation/>
DELETE { ?s dcterms:subject ?v }
INSERT { ?s cur:tag ?v . ?s cur:curated "true" }
WHERE  { ?s dcterms:subject ?v } ;
DELETE WHERE { ?s dcterms:issn ?n }
"""


def _q_kg_sparql_update(spark, sf_dir, n):
    """TripleStore.update() analog (ref triplestore.py:164-173):
    functional SPARQL Update over the triple table — a DELETE/INSERT
    WHERE rewrite plus a DELETE WHERE, applied in sequence; returns the
    updated table (anti-join + union plans, bindings via the shared
    read compiler)."""
    from ferenda_spark.update import apply_update
    return apply_update(_kg_read(spark, "triples", n), _KG_UPDATE)


def _kg_shapes():
    """SHACL-lite shapes for the corpus vocabulary: the issued-date
    shapes FAIL on the W3C docs (xsd:date where the profile wants
    gYearMonth) and identifier cardinality fails where aliases doubled
    it — a realistic mixed conform/violate QA report."""
    from ferenda_spark.namespaces import NS
    from ferenda_spark.operators.validate import Shape
    return [
        Shape("StandardId", NS["bibo"] + "Standard",
              NS["dcterms"] + "identifier", min_count=1, max_count=1,
              node_kind="literal"),
        Shape("StandardTitle", NS["bibo"] + "Standard",
              NS["dcterms"] + "title", min_count=1, node_kind="literal"),
        Shape("StandardIssued", NS["bibo"] + "Standard",
              NS["dcterms"] + "issued", min_count=1,
              pattern=r"^[0-9]{4}-[0-9]{2}$",
              datatype=NS["xsd"] + "gYearMonth"),
        Shape("StandardPublisher", NS["bibo"] + "Standard",
              NS["dcterms"] + "publisher", node_kind="uri"),
        Shape("RfcSubject", NS["rfc"] + "RFC",
              NS["dcterms"] + "subject", min_count=1),
        Shape("PartTitle", NS["bibo"] + "DocumentPart",
              NS["dcterms"] + "title", min_count=1, max_count=1),
    ]


def _q_kg_shacl_report(spark, sf_dir, n):
    """Batch SHACL-lite validation report over the whole KG (broadcast
    shapes, one subject-keyed target join, map-side-combined counts)."""
    from ferenda_spark.operators.validate import validate_shapes
    return validate_shapes(_kg_read(spark, "triples", n), _kg_shapes())


def _q_kg_void_stats(spark, sf_dir, n):
    """VoID dataset description numbers (dataset / property / class
    partitions) — one rollup scan + the type join."""
    from ferenda_spark.operators.graphops import void_stats
    return void_stats(_kg_read(spark, "triples", n))


def _q_kg_doc_stats(spark, sf_dir, n):
    """Per-document triple/typed-resource counts (W3Standards.stats +
    triple_count analog)."""
    from ferenda_spark.operators.graphops import doc_stats
    return doc_stats(_kg_read(spark, "triples", n))


def _q_kg_keyword_hubs(spark, sf_dir, n):
    from ferenda_spark.operators.graphops import keyword_hubs
    # raw triples: dcterms:subject stays literal (the hub input)
    return keyword_hubs(_kg_read(spark, "triples_raw", n)).drop("docs")


def _kg_changed_urls() -> list[str]:
    """Deterministic 'these docs were re-parsed' set for the staleness
    query: three RFC docs that are cited by others."""
    from ferenda_spark.pages import doc_url
    return [doc_url(i, 200) for i in (4, 14, 24)]


def _q_kg_annotations(spark, sf_dir, n):
    """Assembled per-document annotation graph (annotations.rq analog)
    for ALL documents in one set-at-a-time derivation."""
    from ferenda_spark.operators.relate import annotation_graphs
    return annotation_graphs(_kg_read(spark, "triples", n),
                             _kg_read(spark, "documents", n))


def _q_kg_stale(spark, sf_dir, n):
    from ferenda_spark.operators.relate import deps_table, stale_after
    deps = deps_table(_kg_read(spark, "triples", n),
                      _kg_read(spark, "documents", n), _kg_cfg())
    return stale_after(deps, _kg_changed_urls())


def _q_kg_minted_uris(spark, sf_dir, n):
    """Distributed coin-URI minting (groupBy source_url →
    applyInPandas) vs the single-threaded minting the oracle parquet
    was materialized with — a cross-execution check of the engine AND
    the Spark plumbing."""
    from ferenda_spark.operators.minting import default_space_ttl, mint_uris
    return mint_uris(_kg_read(spark, "triples", n), default_space_ttl())


KG_SEARCH_TERMS = ["stream", "batch"]


def _q_kg_search(spark, sf_dir, n):
    """BM25-ranked fulltext term query over the resources table with
    the reference's boost=4 title field (fulltext-index read path;
    scan-search shape)."""
    from ferenda_spark.operators.fulltext import fulltext_search
    return fulltext_search(_kg_read(spark, "resources", n), KG_SEARCH_TERMS,
                           docs=_kg_read(spark, "documents", n))


def _q_kg_search_indexed(spark, sf_dir, n):
    """Same query through the inverted posting table (term-pruned
    semi-join instead of a full corpus scan — the 100× read path);
    scores equal the scan shape by construction, so it shares its
    oracle."""
    from ferenda_spark.operators.fulltext import (build_posting_index,
                                                  fulltext_search_indexed)
    res = _kg_read(spark, "resources", n)
    postings, doclens = build_posting_index(
        res, docs=_kg_read(spark, "documents", n))
    return fulltext_search_indexed(postings, doclens, KG_SEARCH_TERMS,
                                   resources=res)


KG_SEARCH_FUSED_SQL = """
    WITH s AS (%s), p AS (%s),
    pl AS (SELECT node, rank FROM p
           ORDER BY rank DESC, node LIMIT 100),
    sr AS (SELECT resource_uri AS id,
                  row_number() OVER (ORDER BY score DESC, resource_uri)
                    AS rnk FROM s),
    pr AS (SELECT node AS id,
                  row_number() OVER (ORDER BY rank DESC, node) AS rnk
           FROM pl),
    u AS (SELECT id, rnk FROM sr UNION ALL SELECT id, rnk FROM pr)
    SELECT id, round(sum(1.0 / (60 + rnk)), 6) AS rrf,
           count(*)::BIGINT AS n_lists
    FROM u GROUP BY id ORDER BY id
"""


def _q_kg_search_fused(spark, sf_dir, n):
    """Reciprocal-rank fusion (fulltext.rrf_fuse): the BM25 top-20
    merged with the top-100 citation-pagerank authority list via
    Σ 1/(60+rank) — score-calibration-free hybrid retrieval (Cormack
    2009); both candidate lists are k-bounded by contract, oracle =
    the same two row_number rankings + the same fold."""
    from ferenda_spark.operators.fulltext import (build_posting_index,
                                                  fulltext_search_indexed,
                                                  rrf_fuse)
    from ferenda_spark.operators.graphops import citation_edges, pagerank
    res = _kg_read(spark, "resources", n)
    postings, doclens = build_posting_index(
        res, docs=_kg_read(spark, "documents", n))
    search = fulltext_search_indexed(postings, doclens,
                                     KG_SEARCH_TERMS, resources=res)
    pr = (pagerank(citation_edges(_kg_read(spark, "triples", n)))
          .orderBy(F.desc("rank"), "node").limit(100))
    return rrf_fuse([(search, "resource_uri", "score"),
                     (pr, "node", "rank")])


def _q_kg_search_delta(spark, sf_dir, n):
    """Incremental index maintenance (fulltext.merge_posting_index):
    the index is bootstrapped WITHOUT the …2.html docs, their
    resources then merge in as a crawl batch (replace-by-uri +
    append), and the same query runs — identical scores to the
    full-rebuild path by construction, so it SHARES kg_search_indexed's
    oracle (incremental ≡ rebuild is the checked spec)."""
    from ferenda_spark.operators.fulltext import (build_posting_index,
                                                  fulltext_search_indexed,
                                                  merge_posting_index)
    res = _kg_read(spark, "resources", n)
    docs = _kg_read(spark, "documents", n)
    batch = F.col("url").like("%2.html")
    postings, doclens = build_posting_index(res.where(~batch),
                                            docs=docs.where(~batch))
    postings, doclens = merge_posting_index(
        postings, doclens, res.where(batch), docs_delta=docs.where(batch))
    return fulltext_search_indexed(postings, doclens, KG_SEARCH_TERMS,
                                   resources=res)


_KG_SPARQL_QUERY = """
PREFIX dct: <http://purl.org/dc/terms/>
PREFIX bibo: <http://purl.org/ontology/bibo/>
SELECT DISTINCT ?part ?title ?doc ?doc_title ?citing WHERE {
  ?part a bibo:DocumentPart .
  ?part dct:title ?title .
  ?part dct:isPartOf ?doc .
  OPTIONAL { ?doc dct:title ?doc_title }
  OPTIONAL { ?citing dct:references ?part }
  FILTER(regex(?title, "^Part"))
} ORDER BY ?part ?citing
"""


_ANNOTATIONS_RQ = """
PREFIX dcterms: <http://purl.org/dc/terms/>
CONSTRUCT
{
   ?part dcterms:isReferencedBy ?s .
   ?s ?p ?o .
}
WHERE
{
  ?s ?p ?o .
  {
    ?s dcterms:isPartOf* <%(uri)s> .
  }
  UNION
  {
    ?part dcterms:isPartOf* <%(uri)s> .
    ?s dcterms:references ?part .
  }
}
"""  # ≙ the reference's res/sparql/annotations.rq:1-20, verbatim shape

_DESCRIBE_URI = "http://example.org/res/doc/1"


def _q_kg_describe(spark, sf_dir, n):
    """The reference's annotations.rq run through the SPARQL compiler
    (CONSTRUCT + UNION + isPartOf* property path) for one document —
    the per-basefile describe query a reference user runs today.
    tests/test_sparql.py proves the constructed graph equals the
    set-at-a-time annotation_graphs operator's output."""
    from ferenda_spark import sparql
    return sparql.compile_spark(_kg_read(spark, "triples", n),
                                _ANNOTATIONS_RQ % {"uri": _DESCRIBE_URI})


# DESCRIBE ?d bound by pattern — the spec query form (desugared to
# CONSTRUCT at parse time; round-4 surface)
_KG_DESCRIBE_SPARQL = ("PREFIX dct: <http://purl.org/dc/terms/>\n"
                       "DESCRIBE ?d WHERE { ?d dct:isPartOf <%s> }"
                       % _DESCRIBE_URI)


def _q_kg_describe_sparql(spark, sf_dir, n):
    from ferenda_spark import sparql
    return sparql.compile_spark(_kg_read(spark, "triples", n),
                                _KG_DESCRIBE_SPARQL)


_RFC_ANNOTATIONS_RQ = """
PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
PREFIX dcterms: <http://purl.org/dc/terms/>
PREFIX bibo: <http://purl.org/ontology/bibo/>
PREFIX rfc: <http://example.org/ontology/rfc/>
CONSTRUCT {?s ?p ?o .
           <%(uri)s> rfc:isObsoletedBy ?obsoleter .
           <%(uri)s> rfc:isUpdatedBy ?updater .
           <%(uri)s> dcterms:isReferencedBy ?referencer .
          }
WHERE
{
   { ?s ?p ?o .
     FILTER(?s = <%(uri)s> && !isUri(?o))
   }
   UNION
   { ?s dcterms:references+ <%(uri)s> ;
        ?p ?o .
     BIND(?s as ?referencer)
     FILTER(?p != dcterms:references || strstarts(str(?o), "%(uri)s"))
   }
   UNION
   { ?s ?x <%(uri)s> ;
        ?p ?o .
     FILTER(?x in (rfc:updates, rfc:obsoletes) && ?p != dcterms:references)
   }
   UNION { ?obsoleter rfc:obsoletes <%(uri)s> . }
   UNION { ?updater   rfc:updates   <%(uri)s> . }
}
"""  # ≙ sources/tech/res/sparql/rfc-annotations.rq, comment lines
# dropped (tests/test_sparql.py runs the reference file itself
# verbatim; this driver copy avoids depending on /root/reference)


def _q_kg_describe_rfc(spark, sf_dir, n):
    """The reference's RFC-repo annotation query (;-lists, BIND inside
    UNION, isUri→objtype scan constraint, strstarts, references+ path)
    over the kg triples — what `ferenda-build.py rfc generate` asks the
    triplestore per document."""
    from ferenda_spark import sparql
    return sparql.compile_spark(
        _kg_read(spark, "triples", n),
        _RFC_ANNOTATIONS_RQ % {"uri": _DESCRIBE_URI})


_DESCRIBE_BASE_RQ = """
PREFIX dcterms: <http://purl.org/dc/terms/>
PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
CONSTRUCT {
  <%(uri)s> dcterms:isReferencedBy ?referer .
  ?referer ?p ?o .
  ?o rdfs:label ?olabel .
  <%(uri)s> ?rp ?ro .
  ?ro ?rrp ?rro
}
WHERE
{
  {
    <%(uri)s> ?rp ?ro .
  } UNION {
    <%(uri)s> ?rp ?ro .
    ?ro ?rrp ?rro .
  } UNION {
      ?referer dcterms:references <%(uri)s> .
      ?referer ?p ?o .
      ?o rdfs:label ?olabel .
  }
}
"""  # ≙ sources/legal/se/res/sparql/describe-base.rq, unused PREFIXes
# dropped (the reference file itself compiles verbatim —
# tests/test_sparql.py::test_every_reference_rq_compiles)


def _q_kg_describe_base(spark, sf_dir, n):
    """The legal-SE per-document describe query (describe-base.rq
    shape): own triples + one-hop neighborhood + labeled referers."""
    from ferenda_spark import sparql
    return sparql.compile_spark(
        _kg_read(spark, "triples", n),
        _DESCRIBE_BASE_RQ % {"uri": _DESCRIBE_URI})


_KG_SPARQL_ORPHANS = """
PREFIX dct: <http://purl.org/dc/terms/>
PREFIX foaf: <http://xmlns.com/foaf/0.1/>
SELECT ?s ?title WHERE {
  ?s a foaf:Document .
  ?s dct:title ?title .
  FILTER NOT EXISTS { ?citer dct:references ?s }
  FILTER EXISTS { ?s dct:publisher ?pub }
} ORDER BY ?s
"""


def _q_kg_sparql_orphans(spark, sf_dir, n):
    """Published-but-never-cited documents: FILTER NOT EXISTS/EXISTS
    compiled to left-anti/left-semi joins (the citation-gap audit a
    reference user runs against the store)."""
    from ferenda_spark import sparql
    return sparql.compile_spark(_kg_read(spark, "triples", n),
                                _KG_SPARQL_ORPHANS)


_KG_SPARQL_STATS = """
SELECT ?p (COUNT(*) AS ?n_triples) (COUNT(DISTINCT ?s) AS ?n_subjects)
WHERE { ?s ?p ?o } GROUP BY ?p ORDER BY ?p
"""


def _q_kg_sparql_stats(spark, sf_dir, n):
    """Per-predicate store statistics through the SPARQL aggregate
    surface (the triple_count / statusreport shape, ref
    triplestore.py:175-177, as a user-writable query)."""
    from ferenda_spark import sparql
    return sparql.compile_spark(_kg_read(spark, "triples", n),
                                _KG_SPARQL_STATS)


_KG_SPARQL_BIND = """
PREFIX dct: <http://purl.org/dc/terms/>
PREFIX bibo: <http://purl.org/ontology/bibo/>
PREFIX foaf: <http://xmlns.com/foaf/0.1/>
SELECT ?s ?type ?label WHERE {
  ?s a ?type .
  ?s dct:title ?title .
  VALUES ?type { foaf:Document bibo:DocumentPart }
  BIND(concat(?type, "|", ?title) AS ?label)
} ORDER BY ?s ?type LIMIT 500
"""


def _q_kg_sparql_bind(spark, sf_dir, n):
    """VALUES + BIND through the SPARQL compiler: restrict by an inline
    type list, project a computed label — the parameterized-query shape
    a reference user gets from triplestore.select with initBindings.
    Twinned SQL oracle from the same parse (ferenda_spark/sparql.py)."""
    from ferenda_spark import sparql
    return sparql.compile_spark(_kg_read(spark, "triples", n),
                                _KG_SPARQL_BIND)


_KG_SPARQL_MINUS = """
PREFIX dct: <http://purl.org/dc/terms/>
PREFIX foaf: <http://xmlns.com/foaf/0.1/>
SELECT ?s ?title ?pub WHERE {
  ?s a foaf:Document .
  ?s dct:title ?title .
  OPTIONAL { ?s dct:publisher ?pub
             OPTIONAL { ?pub dct:title ?publabel } }
  MINUS { ?s ^dct:references ?citer }
} ORDER BY ?s
"""  # round-4 subset additions in one user-shaped query: MINUS
# (never-cited docs), inverse path ^dct:references, nested OPTIONAL


_KG_SPARQL_LANGDT = """
PREFIX dct: <http://purl.org/dc/terms/>
SELECT ?s ?title ?d ?id WHERE {
  ?s dct:title ?title .
  FILTER(langMatches(lang(?title), "EN"))
  OPTIONAL { ?s dct:issued ?d .
             FILTER(datatype(?d) =
                    <http://www.w3.org/2001/XMLSchema#date>) }
  OPTIONAL { ?s dct:identifier ?id . FILTER(lang(?id) = "") }
} ORDER BY ?s ?title
"""  # the label-query idioms every SPARQL user writes: RFC 4647
# langMatches (case-insensitive, en matches en-GB), a datatype()
# constraint inside OPTIONAL, and the untagged-literal lang()="" test
# — all three push into the scans in both backends


_KG_SPARQL_AGG = """
PREFIX dct: <http://purl.org/dc/terms/>
SELECT ?type (COUNT(?s) AS ?n) (SAMPLE(?id) AS ?first_id)
       (GROUP_CONCAT(DISTINCT ?pub; SEPARATOR="|") AS ?pubs)
WHERE {
  ?s a ?type .
  ?s dct:identifier ?id .
  OPTIONAL { ?s dct:publisher ?pub }
} GROUP BY ?type HAVING (?n >= 5) ORDER BY ?type
"""  # round-4 aggregate surface: SAMPLE (deterministic MIN),
# GROUP_CONCAT DISTINCT + separator (sorted), HAVING over an alias


_KG_SPARQL_SUBQUERY = """
PREFIX dct: <http://purl.org/dc/terms/>
PREFIX foaf: <http://xmlns.com/foaf/0.1/>
SELECT ?s ?title ?n_parts WHERE {
  ?s a foaf:Document .
  ?s dct:title ?title .
  { SELECT ?s (COUNT(?part) AS ?n_parts) WHERE {
      ?part dct:isPartOf ?s } GROUP BY ?s HAVING (?n_parts >= 3) }
} ORDER BY ?s
"""  # round-4 subquery surface: aggregate { SELECT … } joined to the
# outer BGP — docs with >= 3 direct parts and their titles


def _q_kg_sparql_subquery(spark, sf_dir, n):
    from ferenda_spark import sparql
    return sparql.compile_spark(_kg_read(spark, "triples", n),
                                _KG_SPARQL_SUBQUERY)


_KG_SPARQL_SEQPATH = """
PREFIX dct: <http://purl.org/dc/terms/>
SELECT DISTINCT ?x ?anc_title ?cited_title WHERE {
  ?x dct:isPartOf+/dct:title ?anc_title .
  OPTIONAL { ?x dct:references/dct:title ?cited_title }
} ORDER BY ?x ?anc_title
"""  # round-4 sequence-path surface: quantified element composed in a
# sequence (ancestor titles via isPartOf+ then one title hop) plus a
# plain 2-element sequence inside OPTIONAL


def _q_kg_sparql_seqpath(spark, sf_dir, n):
    from ferenda_spark import sparql
    return sparql.compile_spark(_kg_read(spark, "triples", n),
                                _KG_SPARQL_SEQPATH)


_KG_SPARQL_NESTED = """
PREFIX dct: <http://purl.org/dc/terms/>
PREFIX foaf: <http://xmlns.com/foaf/0.1/>
SELECT DISTINCT ?s ?title ?class WHERE {
  ?s dct:title ?title .
  { ?s a foaf:Document . OPTIONAL { ?s dct:publisher ?pub } }
  UNION
  { ?s dct:references ?o .
    { ?s dct:identifier ?id } UNION { ?o dct:identifier ?id } }
  BIND(IF(bound(?pub), "published",
          COALESCE(strbefore(?title, " "), "solo")) AS ?class)
  FILTER NOT EXISTS { { ?s dct:isPartOf ?pp }
                      UNION { ?s dct:isReferencedBy ?citer } }
} ORDER BY ?s ?title
"""  # round-4 structural-nesting surface in one user-shaped query:
# OPTIONAL inside a UNION branch, a nested UNION (DNF-distributed),
# NOT EXISTS over a UNION body (De Morgan split), and the IF/
# COALESCE/STRBEFORE expression additions


def _q_kg_sparql_nested(spark, sf_dir, n):
    from ferenda_spark import sparql
    return sparql.compile_spark(_kg_read(spark, "triples", n),
                                _KG_SPARQL_NESTED)


_KG_SPARQL_EXISTS_EXPR = """
PREFIX dct: <http://purl.org/dc/terms/>
SELECT ?s ?title ?kind WHERE {
  ?s dct:title ?title .
  BIND(IF(EXISTS { ?s dct:references ?o2 }, "citing", "leaf") AS ?kind)
  FILTER(EXISTS { ?s dct:issued ?d } || STRENDS(?title, "One"))
} ORDER BY ?s ?title ?kind
"""  # round-5: EXISTS in EXPRESSION position — inside IF() in a BIND
# and ||-composed in a FILTER (neither reducible to the statement-
# level semi/anti-join form); Spark left-joins DISTINCT boolean
# probes, the SQL twin carries correlated EXISTS subqueries


def _q_kg_sparql_exists_expr(spark, sf_dir, n):
    """EXISTS/NOT EXISTS inside expressions (sparql.EExistsMarker):
    classify documents by whether they cite anything (IF(EXISTS…))
    while filtering on EXISTS || string-test — the reference surface
    is TripleStore.select() with arbitrary SPARQL
    (ferenda/triplestore.py:179-200), where expression-position EXISTS
    is legal everywhere."""
    from ferenda_spark import sparql
    return sparql.compile_spark(_kg_read(spark, "triples", n),
                                _KG_SPARQL_EXISTS_EXPR)


_KG_SPARQL_DATETIME = """
PREFIX dct: <http://purl.org/dc/terms/>
PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
SELECT ?s ?d WHERE {
  ?s dct:issued ?d .
  FILTER(?d >= "2014-01-10T00:00:00Z"^^xsd:dateTime &&
         ?d < "2014-02-01"^^xsd:date)
} ORDER BY ?s ?d
"""  # round-5: typed-literal TIMELINE comparison — both bounds map to
# epoch instants via engine-identical lexical arithmetic; the corpus's
# malformed month-form dates ("2010-01") are type errors -> unbound


def _q_kg_sparql_datetime(spark, sf_dir, n):
    """xsd:dateTime/xsd:date timeline comparison over dct:issued: a
    dateTime lower bound against date-typed corpus values plus a date
    upper bound — ordering by instant, not lexically; non-date-shaped
    values drop as type errors (the month-form issued dates)."""
    from ferenda_spark import sparql
    return sparql.compile_spark(_kg_read(spark, "triples", n),
                                _KG_SPARQL_DATETIME)


_KG_SPARQL_CONSTRUCT_BNODE = """
PREFIX dct: <http://purl.org/dc/terms/>
PREFIX ex: <http://example.org/ontology/>
CONSTRUCT {
  _:ref a ex:Reference .
  _:ref ex:source ?s .
  _:ref ex:target ?o
} WHERE { ?s dct:references ?o }
"""  # round-5: blank-node templates — one fresh _:ref node per
# solution (reifying each citation edge), minted as a deterministic
# skolem id so both engines emit identical node strings


def _q_kg_sparql_construct_bnode(spark, sf_dir, n):
    """CONSTRUCT with blank-node templates: reify every dct:references
    edge as a fresh per-solution _:ref node carrying type/source/
    target triples (the spec's bnode-template semantics; ids are
    deterministic md5-of-solution skolems, a valid choice the DuckDB
    twin reproduces exactly)."""
    from ferenda_spark import sparql
    return sparql.compile_spark(_kg_read(spark, "triples", n),
                                _KG_SPARQL_CONSTRUCT_BNODE)


_KG_SPARQL_CASTS = """
PREFIX dct: <http://purl.org/dc/terms/>
PREFIX bibo: <http://purl.org/ontology/bibo/>
PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
SELECT ?cat (COUNT(*) AS ?n) (SUM(xsd:integer(?ch) + 0.5) AS ?w)
WHERE {
  ?s dct:identifier ?id .
  OPTIONAL { ?s bibo:chapter ?ch }
  BIND(COALESCE(xsd:string(xsd:integer(?ch)), "none") AS ?cat)
} GROUP BY ?cat ORDER BY ?cat
"""  # round-5 expression-library combination query: XPath constructor
# casts, a BIND that references the OPTIONAL-bound variable (deferred
# past the left join), grouping BY the bind target, and an aggregate
# over a full expression — the four additions in one user-shaped query


def _q_kg_sparql_casts(spark, sf_dir, n):
    """Cast/bind/aggregate-expression surface in one query: chapter
    numbers cast via xsd:integer, defaulted through a post-OPTIONAL
    COALESCE BIND used as the GROUP BY key, with SUM over a cast
    arithmetic expression (all-NULL groups sum to unbound in both
    engines)."""
    from ferenda_spark import sparql
    return sparql.compile_spark(_kg_read(spark, "triples", n),
                                _KG_SPARQL_CASTS)


_KG_SPARQL_TOP_CITED = """
PREFIX dct: <http://purl.org/dc/terms/>
SELECT ?o WHERE { ?s dct:isPartOf ?o }
GROUP BY ?o HAVING(COUNT(?s) >= 2)
ORDER BY DESC(COUNT(?s)) ?o LIMIT 10
"""  # round-5: inline HAVING aggregate + aggregate ORDER BY key in
# the classic busiest-containers shape — both aggregates hoist to
# hidden projections (computed once in the groupBy, dropped from the
# output after the sort)


def _q_kg_sparql_top_cited(spark, sf_dir, n):
    """Busiest container documents (most direct parts) via inline
    aggregates in HAVING and ORDER BY (no aliases): one
    predicate-pruned scan, one map-side-combined count, top-10 under
    a (count DESC, uri) total order."""
    from ferenda_spark import sparql
    return sparql.compile_spark(_kg_read(spark, "triples", n),
                                _KG_SPARQL_TOP_CITED)


_KG_SPARQL_GROUPKEY = """
PREFIX dct: <http://purl.org/dc/terms/>
SELECT ?series (COUNT(*) AS ?n)
       (GROUP_CONCAT(STRAFTER(?id, ", "); SEPARATOR="|") AS ?members)
WHERE { ?s dct:identifier ?id . FILTER(CONTAINS(?id, ",")) }
GROUP BY (STRBEFORE(?id, ",") AS ?series)
ORDER BY DESC(COUNT(*)) ?series
"""  # round-5: GROUP BY an expression key with AS alias (identifier
# series prefix), aggregate over a string-function expression, and an
# aggregate ORDER BY — the derived-key census shape


def _q_kg_sparql_groupkey(spark, sf_dir, n):
    """Identifier-series census via a GROUP BY expression key: groups
    on STRBEFORE(?id, ",") (projected through its AS alias), counts
    members and concatenates their suffixes, ordered by an inline
    aggregate sort key."""
    from ferenda_spark import sparql
    return sparql.compile_spark(_kg_read(spark, "triples", n),
                                _KG_SPARQL_GROUPKEY)


_KG_SPARQL_OPTAGG = """
PREFIX dct: <http://purl.org/dc/terms/>
PREFIX foaf: <http://xmlns.com/foaf/0.1/>
SELECT ?s ?title ?n_parts WHERE {
  ?s dct:title ?title . ?s a foaf:Document .
  OPTIONAL { { SELECT ?s (COUNT(?part) AS ?n_parts)
               WHERE { ?part dct:isPartOf ?s } GROUP BY ?s } }
} ORDER BY ?s ?title
"""  # round-5: OPTIONAL-scoped aggregate — a grouped COUNT subquery
# as the OPTIONAL body, left-joined on its projected group key;
# documents with no parts keep their row with ?n_parts unbound


def _q_kg_sparql_optagg(spark, sf_dir, n):
    """Aggregate subquery inside OPTIONAL: per-document contained-part
    counts left-joined onto the document list — part-less documents
    survive with an unbound count (the facet-with-counts query shape a
    reference user writes against faceted_data)."""
    from ferenda_spark import sparql
    return sparql.compile_spark(_kg_read(spark, "triples", n),
                                _KG_SPARQL_OPTAGG)


def _q_kg_sparql_minus(spark, sf_dir, n):
    from ferenda_spark import sparql
    return sparql.compile_spark(_kg_read(spark, "triples", n),
                                _KG_SPARQL_MINUS)


def _q_kg_sparql_agg(spark, sf_dir, n):
    from ferenda_spark import sparql
    return sparql.compile_spark(_kg_read(spark, "triples", n),
                                _KG_SPARQL_AGG)


def _q_kg_sparql_langdt(spark, sf_dir, n):
    from ferenda_spark import sparql
    return sparql.compile_spark(_kg_read(spark, "triples", n),
                                _KG_SPARQL_LANGDT)


_KG_SPARQL_GRAPHVAR = """
PREFIX dct: <http://purl.org/dc/terms/>
SELECT ?g ?c (COUNT(?s) AS ?n_titled) WHERE {
  GRAPH ?g { ?s a ?c . ?s dct:title ?t }
} GROUP BY ?g ?c ORDER BY ?g ?c
"""


_KG_SPARQL_PATHVAR = """
PREFIX dct: <http://purl.org/dc/terms/>
SELECT ?g ?part ?top ?t WHERE {
  GRAPH ?g { ?part dct:isPartOf+ ?top . ?top dct:title ?t }
}
"""


def _q_kg_sparql_pathvar(spark, sf_dir, n):
    """Property paths under GRAPH ?var: the isPartOf+ closure runs
    per named graph (grouped on the context — one shared iteration,
    not one job per graph) and ?g joins the plain title scan under the
    same GRAPH ?g, so ancestors resolve within their own document
    graph only."""
    from ferenda_spark import sparql
    quads = _kg_read(spark, "triples", n).withColumn(
        "context", F.col("source_url"))
    return sparql.compile_spark(quads, _KG_SPARQL_PATHVAR)


def _q_kg_sparql_graphvar(spark, sf_dir, n):
    """GRAPH ?var over per-document named graphs (the reference's
    quad-store model: one graph per document, context = the doc URL).
    ?g binds the context column; the two patterns under one GRAPH ?g
    must co-locate in the SAME graph; typed+titled subjects are
    counted per (graph, class)."""
    from ferenda_spark import sparql
    quads = _kg_read(spark, "triples", n).withColumn(
        "context", F.col("source_url"))
    return sparql.compile_spark(quads, _KG_SPARQL_GRAPHVAR)


def _q_kg_sparql(spark, sf_dir, n):
    """Ad-hoc SPARQL surface (triplestore.select analog): the generic
    BGP/OPTIONAL/FILTER compiler over the triples table. The oracle is
    the compiler's own SQL emission run by DuckDB — two backends, one
    shared join plan (ferenda_spark/sparql.py; semantics pinned by
    tests/test_sparql.py's hand-built goldens)."""
    from ferenda_spark import sparql
    return sparql.compile_spark(_kg_read(spark, "triples", n),
                                _KG_SPARQL_QUERY)


# request-URL corpus exercised by kg_routing beyond the triple
# subjects: dataset URIs (bare/suffix/param), a second repo's space,
# alias-mismatch, host-mismatch and near-miss alias cases (each a
# branch of requesthandler.supports / basefile_from_uri)
KG_ROUTING_EXTRA = [
    "http://example.org/dataset/doc",
    "http://example.org/dataset/doc.rdf",
    "http://example.org/dataset/doc?titel=a",
    "http://example.org/dataset/docx",
    "http://example.org/res/doc/9999.html",
    "http://example.org/res/other/1",
    "http://alt.example.org/res/alt/a1",
    "http://alt.example.org/res/alt/a1.html#S2",
    "http://alt.example.org/dataset/alt.atom",
    "http://elsewhere.example/res/doc/1",
]


def _kg_routing_cfgs():
    from ferenda_spark.uris import RepoConfig
    return [_kg_cfg(), RepoConfig(alias="alt", url="http://alt.example.org/")]


def _q_kg_routing(spark, sf_dir, n):
    """Multi-repo URL routing: every distinct subject URI in the triple
    table plus the synthetic request corpus, routed to (repo, kind,
    basefile) — one native CASE-chain projection, no Python."""
    from ferenda_spark.operators.routing import route_uris
    uris = (_kg_read(spark, "triples", n)
            .select(F.col("subject").alias("uri"))
            .unionByName(spark.createDataFrame(
                [(u,) for u in KG_ROUTING_EXTRA], "uri string"))
            .distinct())
    return route_uris(uris, _kg_routing_cfgs()).orderBy("uri")


def _kg_routing_sql(kg_paths: dict) -> str:
    from ferenda_spark.operators.routing import sql_route
    values = ",\n      ".join("('%s')" % u for u in KG_ROUTING_EXTRA)
    return f"""
    WITH uris(uri) AS (
      SELECT DISTINCT subject FROM read_parquet('{kg_paths["triples"]}')
      UNION
      SELECT * FROM (VALUES
      {values})
    )
    SELECT uri, {sql_route('uri', _kg_routing_cfgs())} FROM uris
    """


def _q_kg_citations(spark, sf_dir, n):
    """Citation mining over the per-resource text (CitationParser +
    URIFormatter analog), emitted as a joinable table."""
    from ferenda_spark.operators.citations import (CORPUS_PATTERNS,
                                                   corpus_formatter,
                                                   extract_citations)
    return extract_citations(_kg_read(spark, "resources", n),
                             CORPUS_PATTERNS, corpus_formatter())


# the ready-made formatters (ref ferenda/uriformats.py) exercised over
# the kg corpus: `url` reassembles each resource's source URL from its
# parsed parts; `generic` turns RFC citations into querystring URIs
KG_WEBURL_PAT = (r"(?P<scheme>https?)://(?P<netloc>[^/\s]+)"
                 r"(?P<path>/[^\s#?]*)")
KG_RFC_PAT = r"\[?RFC ?(?P<rfc>\d+)\]?"


def _q_kg_citations_stock(spark, sf_dir, n):
    """Stock uriformats.generic/url through the URIFormatter registry
    (ref ferenda/uriformats.py:14-44) — closes SURVEY §2.3's
    'ready-made formatters' row with a hard oracle."""
    from ferenda_spark import uriformats
    from ferenda_spark.operators.citations import (URIFormatter,
                                                   extract_citations)
    res = _kg_read(spark, "resources", n)
    by_url = extract_citations(
        res, [("weburl", KG_WEBURL_PAT)],
        URIFormatter(("weburl", uriformats.url)), text_col="url")
    by_text = extract_citations(
        res, [("rfc_generic", KG_RFC_PAT)],
        URIFormatter(("rfc_generic", uriformats.generic)))
    return by_url.unionByName(by_text)


def _kg_citations_stock_sql(kg_paths: dict) -> str:
    res = "read_parquet('%s')" % kg_paths["resources"]
    return f"""
    SELECT url, resource_uri, 'weburl' AS name,
           regexp_extract(url, '{KG_WEBURL_PAT}') AS cite,
           regexp_extract(url, '{KG_WEBURL_PAT}', 1) || '://' ||
           regexp_extract(url, '{KG_WEBURL_PAT}', 2) ||
           regexp_extract(url, '{KG_WEBURL_PAT}', 3) AS uri
    FROM {res} WHERE regexp_matches(url, '{KG_WEBURL_PAT}')
    UNION ALL
    SELECT url, resource_uri, 'rfc_generic' AS name, cite,
           'http://example.org/?rfc=' ||
             regexp_extract(cite, '{KG_RFC_PAT}', 1) AS uri
    FROM (SELECT url, resource_uri,
                 unnest(regexp_extract_all(text, '{KG_RFC_PAT}')) AS cite
          FROM {res})
    """


def _kg_news_inputs(spark, n):
    from ferenda_spark.operators.facets import faceted_data
    from ferenda_spark.operators.news import news_facet_entries
    docs = _kg_read(spark, "documents", n)
    entries = (docs.select("url", "title")
               .join(_kg_read(spark, "pages_meta", n), "url")
               .withColumnRenamed("warc_ts", "updated"))
    faceted = faceted_data(_kg_read(spark, "triples", n))
    # decorated entries feed 2+ branches (facet feeds + main feed);
    # materialize once (≙ the reference's faceted_entries.json cache)
    return news_facet_entries(faceted, docs.select("url", "uri"),
                              entries).localCheckpoint(eager=True)


def _q_kg_news_feedsets(spark, sf_dir, n):
    from ferenda_spark.operators.facetlib import default_facets
    from ferenda_spark.operators.news import news_feedsets
    return news_feedsets(_kg_news_inputs(spark, n), default_facets(),
                         _kg_labels(spark, n))


def _q_kg_news_feed_entries(spark, sf_dir, n):
    from ferenda_spark.operators.facetlib import default_facets
    from ferenda_spark.operators.news import news_select_for_feeds
    return news_select_for_feeds(_kg_news_inputs(spark, n), default_facets(),
                                 _kg_labels(spark, n))


KG_NEW_URL = "http://example.org/doc/new.html"


def _q_kg_versions(spark, sf_dir, n):
    """DocumentStore archive analog: merge a deterministic second
    snapshot (…0.html docs changed, …1.html docs absent, one new url)
    into the version-1 current table; return the flattened version
    history."""
    from ferenda_spark.operators.versioning import (archive_versions,
                                                    version_history)
    docs = _kg_read(spark, "documents", n).select("url", "text")
    cur = docs.select("url", F.md5("text").alias("content_hash"),
                      F.lit(1).alias("version"))
    inc = (docs.where(~F.col("url").like("%1.html"))
           .select("url",
                   F.when(F.col("url").like("%0.html"),
                          F.md5(F.concat(F.col("text"), F.lit(" v2"))))
                    .otherwise(F.md5("text")).alias("content_hash"))
           .unionByName(spark.createDataFrame(
               [(KG_NEW_URL,)], "url string")
               .select("url", F.md5(F.lit("new")).alias("content_hash"))))
    new_current, archived = archive_versions(cur, inc)
    return version_history(new_current, archived)


def _q_kg_crawl_delta(spark, sf_dir, n):
    """Snapshot-to-snapshot triple delta (versioning.triple_diff):
    crawl B drops every …1.html doc, revises every …0.html title and
    adds one new doc; the diff is the added/removed (source_url, s, p,
    o) set — the exact input an incremental maintainer consumes."""
    from ferenda_spark.operators.versioning import triple_diff
    DCT_TITLE = "http://purl.org/dc/terms/title"
    a = _kg_read(spark, "triples", n).select(
        "source_url", "subject", "predicate", "object")
    b = (a.where(~F.col("source_url").like("%1.html"))
         .withColumn("object",
                     F.when((F.col("predicate") == DCT_TITLE) &
                            F.col("source_url").like("%0.html"),
                            F.concat(F.col("object"), F.lit(" (rev 2)")))
                      .otherwise(F.col("object")))
         .unionByName(spark.createDataFrame(
             [(KG_NEW_URL, "http://example.org/res/doc/new",
               DCT_TITLE, "New doc"),
              (KG_NEW_URL, "http://example.org/res/doc/new",
               "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
               "http://xmlns.com/foaf/0.1/Document")],
             "source_url string, subject string, predicate string, "
             "object string")))
    return triple_diff(a, b)


DCT_TITLE_URI = "http://purl.org/dc/terms/title"

KG_CRAWL_TS = ("2026-01-01", "2026-02-01", "2026-03-01")


def _kg_new_doc_rows(spark) -> DataFrame:
    return spark.createDataFrame(
        [(KG_NEW_URL, "http://example.org/res/doc/new",
          DCT_TITLE_URI, "New doc"),
         (KG_NEW_URL, "http://example.org/res/doc/new",
          "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
          "http://xmlns.com/foaf/0.1/Document")],
        "source_url string, subject string, predicate string, "
        "object string")


def _kg_three_crawls(spark, n) -> DataFrame:
    """(source_url, s, p, o, crawl_ts) rows of three crawl snapshots
    (twin: kgoracle._three_crawls states the same by formula): crawl 1
    = the corpus; crawl 2 = the kg_crawl_delta mutation (…1.html docs
    missing, …0.html titles revised, one new doc); crawl 3 = crawl 1's
    triples minus …1./…3.html docs plus the new doc — so the …0.html
    revision is REVERTED and the original titles get two disjoint
    presence intervals."""
    a = (_kg_read(spark, "triples", n)
         .select("source_url", "subject", "predicate", "object")
         .distinct())
    new = _kg_new_doc_rows(spark)
    b = (a.where(~F.col("source_url").like("%1.html"))
         .withColumn("object",
                     F.when((F.col("predicate") == DCT_TITLE_URI) &
                            F.col("source_url").like("%0.html"),
                            F.concat(F.col("object"), F.lit(" (rev 2)")))
                      .otherwise(F.col("object")))
         .unionByName(new))
    c = (a.where(~F.col("source_url").like("%1.html") &
                 ~F.col("source_url").like("%3.html"))
         .unionByName(new))
    ts = KG_CRAWL_TS
    return (a.withColumn("crawl_ts", F.lit(ts[0]))
            .unionByName(b.withColumn("crawl_ts", F.lit(ts[1])))
            .unionByName(c.withColumn("crawl_ts", F.lit(ts[2]))))


def _q_kg_triple_intervals(spark, sf_dir, n):
    """Temporal triple table (versioning.temporal_intervals): the
    three-crawl corpus collapses into maximal (valid_from, valid_to)
    presence intervals — reverted …0.html titles carry TWO intervals,
    …1.html docs close at crawl 2, the new doc opens at crawl 2 with
    the FAR_FUTURE sentinel."""
    from ferenda_spark.operators.versioning import temporal_intervals
    return temporal_intervals(_kg_three_crawls(spark, n))


def _q_kg_asof(spark, sf_dir, n):
    """Time travel (versioning.triples_asof): the corpus state at an
    instant inside crawl 2's currency window must equal crawl 2's
    snapshot exactly — the oracle states that identity (the crawl-2
    formula), not the interval implementation."""
    from ferenda_spark.operators.versioning import (temporal_intervals,
                                                    triples_asof)
    return triples_asof(temporal_intervals(_kg_three_crawls(spark, n)),
                        "2026-02-15")


def _kg_fusion_corpus(spark, n) -> DataFrame:
    """Three assertion sources over the canonical KG (twin:
    kgoracle._fusion_union states the same corpus by formula): crawl A
    (the corpus triples), crawl B (…1.html docs not re-crawled, every
    …0.html title revised — the kg_crawl_delta mutation), and a mirror
    aggregator re-asserting every title under source_url + '?mirror'
    with the ORIGINAL value — so revised titles lose the source vote
    2-1 and fusion must restore the original."""
    from ferenda_spark.operators.relate import canonicalize_triples
    t = _kg_read(spark, "triples", n).select(
        "source_url", "subject", "predicate", "object", "objtype")
    b = (t.where(~F.col("source_url").like("%1.html"))
         .withColumn("object",
                     F.when((F.col("predicate") == DCT_TITLE_URI) &
                            F.col("source_url").like("%0.html"),
                            F.concat(F.col("object"), F.lit(" (rev 2)")))
                      .otherwise(F.col("object"))))
    mirror = (t.where(F.col("predicate") == DCT_TITLE_URI)
              .select(F.concat(F.col("source_url"), F.lit("?mirror"))
                       .alias("source_url"),
                      "subject", "predicate", "object", "objtype"))
    return canonicalize_triples(
        t.unionByName(b).unionByName(mirror))


def _q_kg_conflicts(spark, sf_dir, n):
    """Functional-property conflict report over the canonicalized
    three-source union: every …0.html doc title carries two values
    asserted by three sources (operators/fusion.functional_conflicts)."""
    from ferenda_spark.operators.fusion import functional_conflicts
    return functional_conflicts(_kg_fusion_corpus(spark, n),
                                [DCT_TITLE_URI])


def _q_kg_fused(spark, sf_dir, n):
    """Source-voting value resolution (operators/fusion.fuse_triples):
    the original title wins 2-1 over the crawl-B revision because the
    mirror re-asserts it — majority fusion, min-value tie-break."""
    from ferenda_spark.operators.fusion import fuse_triples
    return fuse_triples(_kg_fusion_corpus(spark, n), [DCT_TITLE_URI])


def _q_kg_nquads(spark, sf_dir, n):
    """Graph-publishing dump (render.nquads_lines): the whole KG as
    canonical N-Quads lines — per-document named graphs (context =
    source_url), literal escaping per N-Triples rules — one codegen
    projection, ready for write.text. Twin: the same string-building
    CASE chain in DuckDB."""
    from ferenda_spark.operators.render import nquads_lines
    quads = _kg_read(spark, "triples", n).withColumn(
        "context", F.col("source_url"))
    return nquads_lines(quads)


KG_NQUADS_SQL_TMPL = (
    "SELECT '<' || subject || '> <' || predicate || '> ' ||"
    " CASE WHEN objtype = 'uri' THEN '<' || object || '>'"
    " ELSE '\"' || replace(replace(replace(replace(replace(object,"
    " '\\', '\\\\'), '\"', '\\\"'), chr(10), '\\n'), chr(13), '\\r'),"
    " chr(9), '\\t') || '\"' ||"
    "  CASE WHEN coalesce(lang, '') <> '' THEN '@' || lang"
    "       WHEN coalesce(datatype, '') <> ''"
    "       THEN '^^<' || datatype || '>'"
    "       ELSE '' END END ||"
    " CASE WHEN coalesce(source_url, '') <> ''"
    "      THEN ' <' || source_url || '>' ELSE '' END || ' .' AS line"
    " FROM %s")


def _q_kg_provenance(spark, sf_dir, n):
    """Lineage as RDF (lineage.prov_triples): the parse stage's entries
    table becomes W3C PROV-O triples — Entity/Activity typing,
    wasDerivedFrom, wasGeneratedBy for ok rows (+ generatedAtTime from
    the crawl timestamp), wasInvalidatedBy for failures — queryable
    with the same SPARQL surface as the data it describes."""
    from ferenda_spark.operators.lineage import (entries_from_extracted,
                                                 prov_triples)
    entries = entries_from_extracted(_extracted(spark, n), _pages(spark, n),
                                     "parse", "r1")
    return prov_triples(entries, _kg_read(spark, "pages_meta", n))


def _q_kg_stage_counters(spark, sf_dir, n):
    from ferenda_spark.operators.lineage import (entries_from_extracted,
                                                 stage_counters)
    pages = _pages(spark, n)
    entries = entries_from_extracted(_extracted(spark, n), pages,
                                     "parse", "r1")
    return stage_counters(entries)


# ---- sketch, text and dedup ops over driver parquet tables (oracle-checked)

def _q_hll_distinct(spark, sf_dir, n):
    """Deterministic HyperLogLog distinct census
    (sketches.hll_distinct): per-lang approximate distinct texts on
    the shared md5 device — the sketch itself cross-checks register
    for register against the DuckDB twin (integer-scaled harmonic
    sums, string-bit-length ranks: no float order-dependence, no
    libm log2 boundaries); p=6 so the corpus exercises BOTH the raw
    HLL estimate and the linear-counting small-range branch."""
    from ferenda_spark.operators.sketches import hll_distinct
    return hll_distinct(_read(spark, sf_dir, "documents"),
                        keys=["lang"], value="text", p=6)


CMS_CANDIDATES = ["the", "batch", "stream", "zzz-absent"]


def _q_cms_counts(spark, sf_dir, n):
    """Count-Min frequency estimates (sketches.cms_counters +
    cms_estimate): word occurrences sketched into a 4×2048 counter
    table (one map-side-combined aggregate; the corpus never
    shuffles), then point-estimated for a fixed candidate list incl.
    an absent word — the sketch arithmetic itself is the oracle."""
    from ferenda_spark.operators.sketches import (cms_counters,
                                                  cms_estimate)
    from ferenda_spark.operators.textops import words_col
    words = (_read(spark, sf_dir, "documents")
             .select(F.explode(words_col(F.col("text"))).alias("w")))
    cand = spark.createDataFrame([(c,) for c in CMS_CANDIDATES],
                                 "value string")
    return cms_estimate(cms_counters(words, "w"), cand)


def _q_kg_pagerank_delta(spark, sf_dir, n):
    """Incremental PageRank maintenance (graphops.pagerank
    init_ranks): yesterday's graph = citation edges minus every
    md5(src␟dst)-hash ≡ 0 (mod 10) edge, ranked with the full
    15-round budget; today's full graph then re-converges in FOUR
    warm-started rounds from those ranks (new nodes seed at 1.0) —
    the crawl-over-crawl rank refresh that never re-pays the cold
    start. Twin unrolls both phases with the seam (rounded ranks,
    1.0 for new nodes) swapped in mid-chain."""
    from ferenda_spark.operators.graphops import citation_edges, pagerank
    e = citation_edges(_kg_read(spark, "triples", n))
    keep = (F.conv(F.substring(
        F.md5(F.concat_ws("\x1f", F.col("src"), F.col("dst"))), 1, 8),
        16, 10).cast("long") % 10 != 0)
    old_ranks = pagerank(e.where(keep), max_iter=15)
    return pagerank(e, max_iter=4, init_ranks=old_ranks)


def _q_kg_type_inference(spark, sf_dir, n):
    """KG completion by neighborhood vote (graphops.type_inference):
    hold out the rdf:type of every node with md5-hash ≡ 0 (mod 5),
    infer each untyped node's class as the majority type among its
    typed undirected citation neighbors (votes desc, cls asc
    tie-break), and grade against the held-out truth in the output
    itself — the standard link-prediction-style evaluation, run as
    one query; twin replicates mask, vote and grading."""
    from ferenda_spark.namespaces import RDF_TYPE
    from ferenda_spark.operators.graphops import (citation_edges,
                                                  type_inference)
    t = _kg_read(spark, "triples", n)
    types = (t.where((F.col("predicate") == RDF_TYPE) &
                     (F.col("objtype") == "uri"))
             .select(F.col("subject").alias("node"),
                     F.col("object").alias("cls")).distinct())
    masked = (F.conv(F.substring(F.md5(F.col("node")), 1, 8), 16, 10)
              .cast("long") % 5 == 0)
    kept = types.where(~masked)
    inferred = type_inference(citation_edges(t), kept)
    truth = (types.select("node", F.col("cls").alias("inferred_type"))
             .withColumn("_hit", F.lit(True)))
    return (inferred.join(truth, ["node", "inferred_type"], "left")
            .select("node", "inferred_type", "votes",
                    F.coalesce("_hit", F.lit(False)).alias("correct"))
            .orderBy("node"))


def _q_kg_scc(spark, sf_dir, n):
    """Strongly connected components (graphops.scc): redirect loops /
    citation cycles / link-farm knots are exactly the nontrivial SCCs
    of the crawl's directed graphs — undirected CC would glue every
    chain to its cycle. Corpus: a partial permutation v → (7v+3) mod
    500 (nodes v ≡ 2 mod 3 lose their out-edge, leaving four 4-cycles
    and one 2-cycle among path fragments), chain edges v → v+1 for
    v mod 10 < 3, plus an injected 3-cycle and a figure-8 (two
    2-cycles sharing a node → ONE SCC). Hybrid Tarjan-on-driver /
    Trim+FW-BW-peel distributed, both branches tested equal; the twin
    states the definition itself (min over the mutual-reachability
    closure)."""
    from ferenda_spark.operators.graphops import scc
    docs = _read(spark, sf_dir, "documents")
    v = F.col("doc_id") % 500

    def node(c):
        return F.concat(F.lit("n"),
                        F.lpad(c.cast("string"), 3, "0"))

    perm = (docs.where(v % 3 != 2)
            .select(node(v).alias("src"),
                    node((v * 7 + 3) % 500).alias("dst")))
    chain = (docs.where(v % 10 < 3)
             .select(node(v).alias("src"),
                     node((v + 1) % 500).alias("dst")))
    extra = spark.createDataFrame(
        [("c0", "c1"), ("c1", "c2"), ("c2", "c0"),
         ("f0", "f1"), ("f1", "f0"), ("f1", "f2"), ("f2", "f1")],
        "src string, dst string")
    return scc(perm.unionByName(chain).unionByName(extra))


# SQL twin of _q_kg_scc's edge corpus — change BOTH or parity breaks
KG_SCC_EDGES_SQL = (
    "SELECT 'n' || lpad((doc_id % 500)::VARCHAR, 3, '0') AS src,"
    "       'n' || lpad((((doc_id % 500) * 7 + 3) % 500)::VARCHAR,"
    "                   3, '0') AS dst"
    " FROM documents WHERE (doc_id % 500) % 3 <> 2"
    " UNION ALL"
    " SELECT 'n' || lpad((doc_id % 500)::VARCHAR, 3, '0'),"
    "        'n' || lpad((((doc_id % 500) + 1) % 500)::VARCHAR, 3, '0')"
    " FROM documents WHERE (doc_id % 500) % 10 < 3"
    " UNION ALL SELECT * FROM (VALUES"
    "   ('c0', 'c1'), ('c1', 'c2'), ('c2', 'c0'),"
    "   ('f0', 'f1'), ('f1', 'f0'), ('f1', 'f2'), ('f2', 'f1')"
    " ) v(src, dst)")


def _q_kg_anf(spark, sf_dir, n):
    """Approximate neighborhood function (graphops.anf_neighborhood,
    HyperANF — Boldi/Rosa/Vigna WWW 2011): N(t) for t = 0..6 over the
    same mixed cycle/chain corpus as kg_scc — per-node HLL register
    sets unioned along out-edges each round, integer-summed totals on
    the shared md5 device, so the distance census (and the effective
    diameter read off it) cross-checks digit for digit against the
    unrolled-CTE twin without any all-pairs BFS."""
    from ferenda_spark.operators.graphops import anf_neighborhood
    docs = _read(spark, sf_dir, "documents")
    v = F.col("doc_id") % 500

    def node(c):
        return F.concat(F.lit("n"),
                        F.lpad(c.cast("string"), 3, "0"))

    perm = (docs.where(v % 3 != 2)
            .select(node(v).alias("src"),
                    node((v * 7 + 3) % 500).alias("dst")))
    chain = (docs.where(v % 10 < 3)
             .select(node(v).alias("src"),
                     node((v + 1) % 500).alias("dst")))
    return anf_neighborhood(perm.unionByName(chain), rounds=6)


# SQL twin edge corpus of _q_kg_anf — the kg_scc corpus minus the
# injected VALUES cycles (change BOTH or parity breaks)
KG_ANF_EDGES_SQL = (
    "SELECT 'n' || lpad((doc_id % 500)::VARCHAR, 3, '0') AS src,"
    "       'n' || lpad((((doc_id % 500) * 7 + 3) % 500)::VARCHAR,"
    "                   3, '0') AS dst"
    " FROM documents WHERE (doc_id % 500) % 3 <> 2"
    " UNION ALL"
    " SELECT 'n' || lpad((doc_id % 500)::VARCHAR, 3, '0'),"
    "        'n' || lpad((((doc_id % 500) + 1) % 500)::VARCHAR, 3, '0')"
    " FROM documents WHERE (doc_id % 500) % 10 < 3")


def _q_kg_centrality(spark, sf_dir, n):
    """Harmonic centrality for every node from its HyperANF ball
    curve (graphops.anf_centrality, Boldi & Vigna 2014): H(v) ≈
    Σ_t (|ball_t| − |ball_{t−1}|)/t over the same mixed cycle/chain
    corpus as kg_anf — all-nodes closeness in `rounds` passes where
    the exact answer is one BFS per node; per-node estimates rounded
    before differencing so the unrolled-CTE twin matches digit for
    digit."""
    from ferenda_spark.operators.graphops import anf_centrality
    docs = _read(spark, sf_dir, "documents")
    v = F.col("doc_id") % 500

    def node(c):
        return F.concat(F.lit("n"),
                        F.lpad(c.cast("string"), 3, "0"))

    perm = (docs.where(v % 3 != 2)
            .select(node(v).alias("src"),
                    node((v * 7 + 3) % 500).alias("dst")))
    chain = (docs.where(v % 10 < 3)
             .select(node(v).alias("src"),
                     node((v + 1) % 500).alias("dst")))
    return anf_centrality(perm.unionByName(chain), rounds=6)


def _q_kg_sssp(spark, sf_dir, n):
    """Weighted single-source shortest paths
    (graphops.weighted_sssp): min path COST from the seed set over
    the kg_scc mixed corpus with deterministic integer weights
    w = (v mod 7) + 1 on each edge — Bellman-Ford by Jacobi rounds
    under the shared 16-hop cap; hop-count BFS treats a heavy edge
    like a light one, cost is what a crawl scheduler budgets by.
    Twin unrolls the identical rounds (post-fixpoint rounds are
    no-ops, so the Spark early-out cannot diverge)."""
    from ferenda_spark.operators.graphops import weighted_sssp
    docs = _read(spark, sf_dir, "documents")
    v = F.col("doc_id") % 500

    def node(c):
        return F.concat(F.lit("n"),
                        F.lpad(c.cast("string"), 3, "0"))

    w = (v % 7 + 1).cast("double")
    perm = (docs.where(v % 3 != 2)
            .select(node(v).alias("src"),
                    node((v * 7 + 3) % 500).alias("dst"), w.alias("w")))
    chain = (docs.where(v % 10 < 3)
             .select(node(v).alias("src"),
                     node((v + 1) % 500).alias("dst"), w.alias("w")))
    seeds = spark.createDataFrame([("n000",), ("n007",)],
                                  "node string")
    return weighted_sssp(perm.unionByName(chain), seeds)


def _q_kg_condensation(spark, sf_dir, n):
    """Condensation DAG + longest-path levels
    (graphops.condensation): every SCC of the kg_scc corpus
    contracted to its min member, each component's depth from the
    DAG sources and member count — the cycle-collapsed citation
    hierarchy, well-defined where a raw topological sort is not;
    levels by Jacobi max-rounds shared with the twin's unroll."""
    from ferenda_spark.operators.graphops import condensation
    docs = _read(spark, sf_dir, "documents")
    v = F.col("doc_id") % 500

    def node(c):
        return F.concat(F.lit("n"),
                        F.lpad(c.cast("string"), 3, "0"))

    perm = (docs.where(v % 3 != 2)
            .select(node(v).alias("src"),
                    node((v * 7 + 3) % 500).alias("dst")))
    chain = (docs.where(v % 10 < 3)
             .select(node(v).alias("src"),
                     node((v + 1) % 500).alias("dst")))
    extra = spark.createDataFrame(
        [("c0", "c1"), ("c1", "c2"), ("c2", "c0"),
         ("f0", "f1"), ("f1", "f0"), ("f1", "f2"), ("f2", "f1")],
        "src string, dst string")
    return condensation(perm.unionByName(chain).unionByName(extra))


# SQL twin edge corpus of _q_kg_sssp (change BOTH or parity breaks)
KG_SSSP_EDGES_SQL = (
    "SELECT 'n' || lpad((doc_id % 500)::VARCHAR, 3, '0') AS src,"
    "       'n' || lpad((((doc_id % 500) * 7 + 3) % 500)::VARCHAR,"
    "                   3, '0') AS dst,"
    "       ((doc_id % 500) % 7 + 1)::DOUBLE AS w"
    " FROM documents WHERE (doc_id % 500) % 3 <> 2"
    " UNION ALL"
    " SELECT 'n' || lpad((doc_id % 500)::VARCHAR, 3, '0'),"
    "        'n' || lpad((((doc_id % 500) + 1) % 500)::VARCHAR, 3, '0'),"
    "        ((doc_id % 500) % 7 + 1)::DOUBLE"
    " FROM documents WHERE (doc_id % 500) % 10 < 3")


def _q_crawl_overlap(spark, sf_dir, n):
    """Cross-crawl overlap census (sketches.hll_union +
    inclusion–exclusion): two overlapping crawl slices (doc_id % 3
    ≠ 0 vs ≠ 1), each's distinct-text estimate, the union estimate
    from the max-merged registers — the merge IS the sketch's
    defining property, no rescan of either side — and the
    intersection by est_a + est_b − est_union (clamped at 0): "how
    much of crawl B is new". The twin recomputes the identical
    register algebra in SQL."""
    from ferenda_spark.operators.sketches import (hll_estimate,
                                                  hll_registers,
                                                  hll_union)
    docs = _read(spark, sf_dir, "documents") \
        .withColumn("k", F.lit("x"))
    d = F.col("doc_id")
    ra = hll_registers(docs.where(d % 3 != 0), ["k"], "text", p=6)
    rb = hll_registers(docs.where(d % 3 != 1), ["k"], "text", p=6)
    ea = hll_estimate(ra, ["k"], p=6) \
        .select(F.col("est_distinct").alias("est_a"))
    eb = hll_estimate(rb, ["k"], p=6) \
        .select(F.col("est_distinct").alias("est_b"))
    eu = hll_estimate(hll_union(ra, rb, ["k"]), ["k"], p=6) \
        .select(F.col("est_distinct").alias("est_union"))
    inter = F.greatest(
        F.lit(0.0),
        F.round(F.col("est_a") + F.col("est_b") - F.col("est_union"),
                3))
    return (ea.crossJoin(eb).crossJoin(eu)
            .select("est_a", "est_b", "est_union",
                    inter.alias("est_intersection")))


def _crawl_overlap_oracle_sql():
    from ferenda_spark.operators.sketches import sql_hll_distinct

    def leg(pred, alias):
        inner = sql_hll_distinct(
            "(SELECT 'x' AS k, text FROM documents WHERE %s)" % pred,
            ["k"], "text", p=6)
        return ("(SELECT est_distinct AS %s FROM (%s))"
                % (alias, inner))

    # union leg: max-merged registers of the two slices, then the
    # same estimate arithmetic — expressed by running the register
    # CTE over the UNION of the two slices (identical by max-merge)
    u = sql_hll_distinct(
        ("(SELECT 'x' AS k, text FROM documents WHERE doc_id % 3 <> 0 "
         "UNION ALL "
         "SELECT 'x', text FROM documents WHERE doc_id % 3 <> 1)"),
        ["k"], "text", p=6)
    return ("SELECT a.est_a, b.est_b, u.est_union, "
            "greatest(0.0, round(a.est_a + b.est_b - u.est_union, 3))"
            " AS est_intersection FROM %s a, %s b, "
            "(SELECT est_distinct AS est_union FROM (%s)) u"
            % (leg("doc_id % 3 <> 0", "est_a"),
               leg("doc_id % 3 <> 1", "est_b"), u))


BLOOM_CANDIDATES = ["the", "batch", "stream", "zzz-absent", "qq-never"]


def _q_bloom_words(spark, sf_dir, n):
    """Bloom membership filter (sketches.bloom_words +
    bloom_contains): word occurrences folded into a 2^16-bit filter
    stored as 32-bit lanes of a word table (one map-side-combined
    bit_or; the corpus never shuffles), then membership-tested for a
    fixed candidate list incl. two absent words — the frontier-dedup
    primitive ("did the crawl already see this URL?"), no false
    negatives by construction, and the sketch arithmetic itself is
    the oracle."""
    from ferenda_spark.operators.sketches import (bloom_contains,
                                                  bloom_words)
    from ferenda_spark.operators.textops import words_col
    words = (_read(spark, sf_dir, "documents")
             .select(F.explode(words_col(F.col("text"))).alias("w")))
    cand = spark.createDataFrame([(c,) for c in BLOOM_CANDIDATES],
                                 "value string")
    return bloom_contains(bloom_words(words, "w"), cand)


def _q_langid(spark, sf_dir, n):
    from ferenda_spark.operators.textops import language_id
    return language_id(_read(spark, sf_dir, "documents"))


def _q_top_terms(spark, sf_dir, n):
    """Per-document keyword extraction: top-5 terms by tf·idf (raw
    inverse idf — log-free so ranks are bit-identical across engines).
    One explode-count shuffle + a df agg over the tf table + a window
    on the existing doc-hash partitioning."""
    from ferenda_spark.operators.textops import top_terms_per_doc
    return top_terms_per_doc(_read(spark, sf_dir, "documents"), k=5)


def _q_related_docs(spark, sf_dir, n):
    """More-like-this over the corpus: per document, its 5 most
    similar documents by shared tf·idf-selected keywords (integer
    co-occurrence score — bit-exact across engines in any aggregation
    order; idf lives in the keyword selection)."""
    from ferenda_spark.operators.textops import related_docs
    return related_docs(_read(spark, sf_dir, "documents"))


def _delta_batch(spark, sf_dir) -> DataFrame:
    """Incoming crawl batch for dedup_delta (twin: DELTA_BATCH_SQL):
    every doc_id%7==0 corpus doc re-crawled with a few appended words
    (a near-dup the verdict must catch) and one novel doc per
    doc_id%7==3 (must pass). Batch ids never collide with corpus
    ids."""
    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id")
    redup = (docs.where(d % 7 == 0)
             .select((d + 1000000).alias("doc_id"),
                     F.concat(F.coalesce(F.col("text"), F.lit("")),
                              F.lit(" near duplicate copy"))
                     .alias("text")))
    novel = (docs.where(d % 7 == 3)
             .select((d + 2000000).alias("doc_id"),
                     F.concat(F.lit("novel entry number "),
                              d.cast("string"),
                              F.lit(" stands alone with nothing "
                                    "shared here")).alias("text")))
    return redup.unionByName(novel)


# SQL twin of _delta_batch — change BOTH or parity breaks
DELTA_BATCH_SQL = (
    "(SELECT doc_id + 1000000 AS doc_id,"
    " coalesce(text, '') || ' near duplicate copy' AS text"
    " FROM documents WHERE doc_id % 7 = 0"
    " UNION ALL"
    " SELECT doc_id + 2000000,"
    " 'novel entry number ' || doc_id::varchar"
    " || ' stands alone with nothing shared here'"
    " FROM documents WHERE doc_id % 7 = 3)")


def _q_dedup_delta(spark, sf_dir, n):
    """Incremental crawl-batch near-dup dedup: verdict the batch
    against the corpus + earlier batch docs via the banded MinHash
    candidate join — the corpus is scanned, never re-hashed
    (dedup.minhash_dedup_delta; oracle = by-definition all-pairs)."""
    from ferenda_spark.operators.dedup import minhash_dedup_delta
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return minhash_dedup_delta(docs, _delta_batch(spark, sf_dir))


def _head_injected_docs(spark, sf_dir) -> DataFrame:
    """documents with a deterministic HTML head planted (twin:
    HEAD_DOCS_SQL): title always, canonical on d%2, description on
    d%3, og:title with REVERSED attribute order on d%5 (proves the
    tag-then-attribute two-step), og:image never (always-NULL
    column)."""
    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id")

    def s(c):
        return c.cast("string")

    head = F.concat(
        F.lit("<head><title> Page  "), s(d % 9), F.lit(" </title>"),
        F.when(d % 2 == 0,
               F.concat(F.lit('<link href="https://example'), s(d % 5),
                        F.lit('.com/page/'), s(d % 10),
                        F.lit('" rel="canonical">')))
         .otherwise(F.lit("")),
        F.when(d % 3 == 0,
               F.concat(F.lit('<meta name="description" content="About '),
                        s(d % 7), F.lit('">')))
         .otherwise(F.lit("")),
        F.when(d % 5 == 0,
               F.concat(F.lit('<meta content="OG '), s(d % 4),
                        F.lit('" property="og:title">')))
         .otherwise(F.lit("")),
        F.lit('<meta charset="utf-8"></head>'))
    return docs.select(
        "doc_id",
        F.concat(head, F.coalesce(F.col("text"), F.lit("")))
        .alias("text"))


# SQL twin of _head_injected_docs — change BOTH or parity breaks
HEAD_DOCS_SQL = (
    "(SELECT doc_id,"
    " '<head><title> Page  ' || (doc_id % 9)::varchar || ' </title>'"
    " || CASE WHEN doc_id % 2 = 0 THEN"
    "      '<link href=\"https://example' || (doc_id % 5)::varchar"
    "      || '.com/page/' || (doc_id % 10)::varchar"
    "      || '\" rel=\"canonical\">' ELSE '' END"
    " || CASE WHEN doc_id % 3 = 0 THEN"
    "      '<meta name=\"description\" content=\"About '"
    "      || (doc_id % 7)::varchar || '\">' ELSE '' END"
    " || CASE WHEN doc_id % 5 = 0 THEN"
    "      '<meta content=\"OG ' || (doc_id % 4)::varchar"
    "      || '\" property=\"og:title\">' ELSE '' END"
    " || '<meta charset=\"utf-8\"></head>'"
    " || coalesce(text, '') AS text"
    " FROM documents)")


def _q_page_metadata(spark, sf_dir, n):
    """Head-metadata extraction (title / rel=canonical / description /
    og:*) — pure codegen, attribute-order free
    (textops.page_metadata)."""
    from ferenda_spark.operators.textops import page_metadata
    return page_metadata(_head_injected_docs(spark, sf_dir))


def _anchor_injected_docs(spark, sf_dir) -> DataFrame:
    """documents with deterministic <a href>anchors</a> planted (twin:
    ANCHOR_DOCS_SQL): shared targets across moduli exercise the
    per-target aggregation, mixed-case/whitespace anchors the
    normalization, an empty anchor the drop rule."""
    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id")

    def s(c):
        return c.cast("string")

    a1 = F.concat(F.lit(' <a href="https://example'), s(d % 5),
                  F.lit('.com/page/'), s(d % 10),
                  F.lit('" class="x">Topic  '), s(d % 7),
                  F.lit("</a>"))
    a2 = F.concat(F.lit(' <a href="https://hub.example.com/">'),
                  F.when(d % 2 == 0, F.lit("THE Hub"))
                   .otherwise(F.lit("the hub")), F.lit("</a>"))
    a3 = F.lit(' <a href="https://img.example.com/i.png"></a>')
    return docs.select(
        "doc_id",
        F.concat(F.coalesce(F.col("text"), F.lit("")),
                 F.when(d % 3 == 0, a1).otherwise(F.lit("")),
                 F.when(d % 4 == 0, a2).otherwise(F.lit("")),
                 F.when(d % 6 == 0, a3).otherwise(F.lit("")))
        .alias("text"))


# SQL twin of _anchor_injected_docs — change BOTH or parity breaks
ANCHOR_DOCS_SQL = (
    "(SELECT doc_id, coalesce(text, '')"
    " || CASE WHEN doc_id % 3 = 0 THEN"
    "      ' <a href=\"https://example' || (doc_id % 5)::varchar"
    "      || '.com/page/' || (doc_id % 10)::varchar"
    "      || '\" class=\"x\">Topic  ' || (doc_id % 7)::varchar"
    "      || '</a>'"
    "    ELSE '' END"
    " || CASE WHEN doc_id % 4 = 0 THEN"
    "      ' <a href=\"https://hub.example.com/\">'"
    "      || CASE WHEN doc_id % 2 = 0 THEN 'THE Hub'"
    "              ELSE 'the hub' END || '</a>'"
    "    ELSE '' END"
    " || CASE WHEN doc_id % 6 = 0 THEN"
    "      ' <a href=\"https://img.example.com/i.png\"></a>'"
    "    ELSE '' END AS text"
    " FROM documents)")


def _q_anchor_stats(spark, sf_dir, n):
    """Anchor-text aggregation: per link target, anchor census + most
    common anchor text (textops.anchor_text_stats)."""
    from ferenda_spark.operators.textops import anchor_text_stats
    return anchor_text_stats(_anchor_injected_docs(spark, sf_dir))


def _q_frontier_expand(spark, sf_dir, n):
    """Crawl-frontier expansion (operators/crawl.frontier_expand):
    distinct absolute outlink targets of the anchor-injected corpus
    plus a deep-host link family (5 distinct after fragment strip, one
    relative link that must be dropped), minus the even /page/ URLs as
    the already-fetched set — per-host cap of 3 bites only on the deep
    host. Twin: FRONTIER_SQL states corpus, seen set and window by the
    same formulas."""
    from ferenda_spark.operators.crawl import frontier_expand
    r = F.col("id")

    def s(c):
        return c.cast("string")

    deep = spark.range(6).select(
        F.concat(
            F.when(r == 0, F.lit('<a href="/local/page">l</a>'))
             .otherwise(F.lit("")),
            F.lit('<a href="https://deep.example.com/x'), s(r % 5),
            F.when(r == 5, F.lit("#sec")).otherwise(F.lit("")),
            F.lit('">d</a>')).alias("text"))
    corpus = (_anchor_injected_docs(spark, sf_dir).select("text")
              .unionByName(deep))
    seen = spark.range(5).select(
        F.concat(F.lit("https://example"), s((r * 2) % 5),
                 F.lit(".com/page/"), s((r * 2) % 10)).alias("url"))
    return frontier_expand(corpus, seen, per_host_cap=3)


# SQL twin of _q_frontier_expand — change BOTH or parity breaks
FRONTIER_SQL = (
    "WITH corpus AS ("
    "  SELECT text FROM " + "%(anchor_docs)s" + " d"
    "  UNION ALL"
    "  SELECT CASE WHEN r = 0 THEN '<a href=\"/local/page\">l</a>'"
    "              ELSE '' END"
    "     || '<a href=\"https://deep.example.com/x' || (r %% 5)::varchar"
    "     || CASE WHEN r = 5 THEN '#sec' ELSE '' END || '\">d</a>'"
    "  FROM range(6) t(r)),"
    " links AS ("
    "  SELECT DISTINCT regexp_replace(u, '#.*$', '') AS url"
    "  FROM corpus, unnest(regexp_extract_all(coalesce(text, ''),"
    "       '<a [^>]*href=\"([^\"]+)\"[^>]*>([^<]*)</a>', 1)) AS l(u)"
    "  WHERE regexp_matches(u, '^https?://')),"
    " seen AS ("
    "  SELECT 'https://example' || ((2 * r) %% 5)::varchar"
    "      || '.com/page/' || ((2 * r) %% 10)::varchar AS url"
    "  FROM range(5) t(r)),"
    " hosted AS ("
    "  SELECT url, regexp_replace(lower(regexp_extract(url,"
    "           'https?://([A-Za-z0-9.-]+)', 1)), '^www\\.', '') AS host"
    "  FROM links WHERE url NOT IN (SELECT url FROM seen)),"
    " ranked AS ("
    "  SELECT url, host, row_number() OVER (PARTITION BY host"
    "           ORDER BY md5(url), url) AS rank FROM hosted)"
    " SELECT url, host, rank FROM ranked WHERE rank <= 3")


def _q_redirect_resolve(spark, sf_dir, n):
    """Redirect-chain resolution (crawl.resolve_redirects): per-group
    chains p/5k → … → p/5k+4 (terminals, 1-4 hops), a 3-cycle that
    must come back unresolved, and a duplicate-source row that must
    collapse to the min destination; pointer doubling resolves in
    log2(16) = 4 self-joins. Twin: REDIRECTS_SQL walks the same
    mapping step-by-step under the same 16-hop cap."""
    from ferenda_spark.operators.crawl import resolve_redirects
    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id")

    def page(c):
        return F.concat(F.lit("https://r.example/p/"), c.cast("string"))

    chain = (docs.where(d % 5 != 4)
             .select(page(d).alias("src"), page(d + 1).alias("dst")))
    extra = spark.createDataFrame(
        [("https://r.example/c/0", "https://r.example/c/1"),
         ("https://r.example/c/1", "https://r.example/c/2"),
         ("https://r.example/c/2", "https://r.example/c/0"),
         ("https://r.example/p/0", "https://r.example/zzz")],
        "src string, dst string")
    return resolve_redirects(chain.unionByName(extra), max_hops=16)


# SQL twin of _q_redirect_resolve — change BOTH or parity breaks
REDIRECTS_SQL = (
    "WITH RECURSIVE raw AS ("
    "  SELECT 'https://r.example/p/' || doc_id::varchar AS src,"
    "         'https://r.example/p/' || (doc_id + 1)::varchar AS dst"
    "  FROM documents WHERE doc_id % 5 <> 4"
    "  UNION ALL SELECT * FROM (VALUES"
    "    ('https://r.example/c/0', 'https://r.example/c/1'),"
    "    ('https://r.example/c/1', 'https://r.example/c/2'),"
    "    ('https://r.example/c/2', 'https://r.example/c/0'),"
    "    ('https://r.example/p/0', 'https://r.example/zzz'))"
    "    v(src, dst)),"
    " m AS (SELECT src, min(dst) AS dst FROM raw GROUP BY src"
    "       HAVING src <> min(dst)),"
    " walk AS ("
    "  SELECT src AS start, dst AS cur, 1 AS d FROM m"
    "  UNION ALL SELECT w.start, m.dst, w.d + 1 FROM walk w"
    "  JOIN m ON m.src = w.cur WHERE w.d < 16),"
    " term AS (SELECT start, cur, d FROM walk"
    "          WHERE cur NOT IN (SELECT src FROM m)),"
    " res AS (SELECT start, arg_min(cur, d) AS final,"
    "                min(d)::BIGINT AS hops FROM term GROUP BY start)"
    " SELECT m.src AS url, res.final, res.hops,"
    "        CASE WHEN res.final IS NULL THEN 'unresolved'"
    "             ELSE 'resolved' END AS status"
    " FROM m LEFT JOIN res ON res.start = m.src")


# SQL twin of _with_injected_dups — change BOTH or parity breaks,
# which is why they sit side by side as the single definition site
DUP_DOCS_SQL = ("(SELECT doc_id, text FROM documents UNION ALL "
                "SELECT doc_id + 100000, text FROM documents "
                "WHERE doc_id % 7 = 0)")


# 25-token paragraph planted into every doc_id % 9 == 0 document for
# _q_dedup_windows: windows fully inside it (25-k+1 per doc) are
# corpus-duplicated, junction windows differ per document
_BOILER25 = ("the quick brown fox jumps over the lazy dog while the "
             "sun sets behind the distant hills and the river flows "
             "quietly toward the sea")
SPAN_DOCS_SQL = (
    "(SELECT doc_id, coalesce(text, '')"
    " || CASE WHEN doc_id %% 9 = 0 THEN ' %s' ELSE '' END AS text"
    " FROM documents)" % _BOILER25)


def _q_dedup_windows(spark, sf_dir, n):
    """Exact-substring (hashed k-token window) duplication stats, the
    Lee-et-al. suffix-array method's measurable core: the synthetic
    corpus shares no 20-token spans, so the query plants a 25-token
    paragraph (same expression in SPAN_DOCS_SQL) across doc_id % 9
    documents and the operator must report exactly the planted
    coverage."""
    from ferenda_spark.operators.dedup import duplicate_window_stats
    docs = _read(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(F.coalesce(F.col("text"), F.lit("")),
                 F.when(F.col("doc_id") % 9 == 0,
                        F.lit(" " + _BOILER25)).otherwise(F.lit("")))
        .alias("text"))
    return duplicate_window_stats(injected, k=20)


def _with_injected_dups(docs: DataFrame) -> DataFrame:
    dups = (docs.where(F.col("doc_id") % 7 == 0)
            .select((F.col("doc_id") + 100000).alias("doc_id"), "text"))
    return docs.select("doc_id", "text").unionByName(dups)


# SQL twin of _q_line_dedup's boilerplate injection — change BOTH or
# parity breaks. Two ≥5-word lines planted at different moduli (only
# the lowest doc_id keeps each) plus a 1-word line that the min_words
# guard must keep everywhere.
_BOILER_LINES = (
    (4, "Subscribe to our newsletter for all the latest updates"),
    (6, "This site uses cookies to improve your browsing experience"),
    (5, "Home"),
)
BOILER_DOCS_SQL = (
    "(SELECT doc_id, coalesce(text, '')"
    + "".join(
        " || CASE WHEN doc_id %% %d = 0 THEN chr(10) || '%s'"
        "    ELSE '' END" % (m, line) for m, line in _BOILER_LINES)
    + " AS text FROM documents)")


def _q_line_dedup(spark, sf_dir, n):
    """C4-style corpus-level line dedup: the synthetic corpus has no
    cross-document boilerplate, so the query plants deterministic
    boilerplate lines (same expression in BOILER_DOCS_SQL) — the
    operator must keep each only at its first (doc_id, pos) and keep
    the short 'Home' line everywhere."""
    from ferenda_spark.operators.dedup import line_dedup
    docs = _read(spark, sf_dir, "documents")
    text = F.coalesce(F.col("text"), F.lit(""))
    for m, line in _BOILER_LINES:
        text = F.concat(text, F.when(F.col("doc_id") % m == 0,
                                     F.lit("\n" + line))
                        .otherwise(F.lit("")))
    return line_dedup(docs.select("doc_id", text.alias("text")))


# Shared materialized stages across the dedup family — the Iceberg
# hand-off analog between pipeline jobs: the shingle table and the LSH
# pair table are computed once per session and read by every consumer
# query (VERDICT r3 #1: the gate re-ran these stages per query and
# blew its wall-time budget on the dedup tail). Keyed by Spark
# applicationId so a fresh driver session rebuilds from scratch.
_STAGE_CACHE: dict = {}


def _stage(spark: SparkSession, key: tuple, build) -> DataFrame:
    k = (spark.sparkContext.applicationId,) + key
    if k not in _STAGE_CACHE:
        _STAGE_CACHE[k] = build().localCheckpoint(eager=True)
    return _STAGE_CACHE[k]


def _doc_shingles(spark, sf_dir):
    from ferenda_spark.operators.dedup import shingle_table
    return _stage(spark, ("shingles", sf_dir),
                  lambda: shingle_table(_read(spark, sf_dir, "documents")))


def _lsh_pairs(spark, sf_dir):
    from ferenda_spark.operators.dedup import minhash_lsh_pairs
    return _stage(
        spark, ("lsh_pairs", sf_dir),
        lambda: minhash_lsh_pairs(_read(spark, sf_dir, "documents"),
                                  threshold=0.5,
                                  shingles=_doc_shingles(spark, sf_dir)))


def _q_dedup_exact(spark, sf_dir, n):
    from ferenda_spark.operators.dedup import exact_duplicates
    return exact_duplicates(_with_injected_dups(
        _read(spark, sf_dir, "documents")))


def _q_dedup_containment(spark, sf_dir, n):
    """Directed shingle-containment pairs (dedup.containment_pairs):
    the asymmetric dedup Jaccard misses — snippet docs built as the
    first 12 words of every doc_id % 4 == 0 document (ids +200000)
    are fully contained in their source (containment 1.0) while the
    reverse direction scores near zero; prefix-filtered containment
    join (rarity-ordered prefix tokens vs the full inverted index,
    exact array verify on candidates only) against the brute-force
    all-directed-pairs twin."""
    from ferenda_spark.operators.dedup import containment_pairs
    from ferenda_spark.operators.textops import words_col
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    snip = (docs.where(F.col("doc_id") % 4 == 0)
            .select((F.col("doc_id") + 200000).alias("doc_id"),
                    F.array_join(F.slice(words_col(F.col("text")),
                                         1, 12), " ").alias("text")))
    return containment_pairs(docs.unionByName(snip), threshold=0.8)


def _contain_docs_sql():
    from ferenda_spark.operators.textops import WS_SPLIT
    return ("(SELECT doc_id, text FROM documents UNION ALL "
            "SELECT doc_id + 200000, array_to_string("
            "(CASE WHEN trim(coalesce(text, '')) = '' "
            "THEN []::VARCHAR[] ELSE regexp_split_to_array("
            "trim(coalesce(text, '')), '%s') END)[1:12], ' ') "
            "FROM documents WHERE doc_id %% 4 = 0)" % WS_SPLIT)


def _q_dedup_ngram_jaccard(spark, sf_dir, n):
    from ferenda_spark.operators.dedup import ngram_jaccard_pairs
    return ngram_jaccard_pairs(_read(spark, sf_dir, "documents"),
                               threshold=0.5,
                               shingles=_doc_shingles(spark, sf_dir))


def _q_dedup_minhash_lsh(spark, sf_dir, n):
    return _lsh_pairs(spark, sf_dir)


def _q_dedup_simhash(spark, sf_dir, n):
    from ferenda_spark.operators.dedup import simhash_pairs
    return simhash_pairs(_read(spark, sf_dir, "documents"),
                         max_hamming=16, verify_threshold=0.5,
                         shingles=_doc_shingles(spark, sf_dir)) \
        .select("a_id", "b_id", "jaccard_sim")


def _q_dedup_clusters(spark, sf_dir, n):
    """Pairs → transitive dedup groups (CC over the pair graph);
    reads the session's materialized LSH pair table."""
    from ferenda_spark.operators.dedup import dup_clusters
    return dup_clusters(_lsh_pairs(spark, sf_dir))


def _q_dedup_embedding(spark, sf_dir, n):
    from ferenda_spark.operators.dedup import embedding_dup_pairs
    return embedding_dup_pairs(_read(spark, sf_dir, "embeddings"),
                               threshold=0.45)


def _q_dedup_embedding_blocked(spark, sf_dir, n):
    """Scale path: blocked exact GEMM candidates + fold re-verify —
    output equals the brute twin bit-for-bit (same oracle)."""
    from ferenda_spark.operators.dedup import embedding_dup_pairs_blocked
    return embedding_dup_pairs_blocked(_read(spark, sf_dir, "embeddings"),
                                       threshold=0.45)


def _q_ann_topk(spark, sf_dir, n):
    from ferenda_spark.operators.similarity import brute_force_topk
    emb = _read(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, emb.where(F.col("vec_id") < 50), k=5)


def _q_ann_lsh_topk(spark, sf_dir, n):
    from ferenda_spark.operators.similarity import ann_lsh_topk
    emb = _read(spark, sf_dir, "embeddings")
    return ann_lsh_topk(emb, emb.where(F.col("vec_id") < 50), k=5)


def _q_ann_pq_topk(spark, sf_dir, n):
    """Product-quantization ANN (similarity.ann_pq_topk, Jégou et al.
    TPAMI 2011): the memory-bound end of the ANN family — corpus
    vectors compressed to 32 sub-codes (2-dim subspaces, 16 centroids
    each), every query scores the whole
    code table through per-subspace lookup tables (ADC), no candidate
    generation; seeded/deterministic, hard cross-execution oracle
    like the LSH/IVF variants, recall pinned in pytest."""
    from ferenda_spark.operators.similarity import ann_pq_topk
    emb = _read(spark, sf_dir, "embeddings")
    return ann_pq_topk(emb, emb.where(F.col("vec_id") < 50), k=5)


def _q_ann_ivf_topk(spark, sf_dir, n):
    """IVF-bucketed ANN (k-means cells + nprobe); recall vs brute
    force is probabilistic (asserted in pytest), but the operator is
    seeded/deterministic so it carries a hard cross-execution oracle
    (ferenda_spark.annoracle)."""
    from ferenda_spark.operators.similarity import ann_ivf_topk
    emb = _read(spark, sf_dir, "embeddings")
    return ann_ivf_topk(emb, emb.where(F.col("vec_id") < 50), k=5)


def _q_embedding_clusters(spark, sf_dir, n):
    """Corpus k-means clustering (domain balancing / data mixing):
    every vector assigned to its nearest seeded centroid in one
    shuffle-free Arrow pass; hard cross-execution oracle
    (ferenda_spark.annoracle, bit-exact fold-order kernels)."""
    from ferenda_spark.operators.similarity import kmeans_clusters
    return kmeans_clusters(_read(spark, sf_dir, "embeddings"))


# ---- relational / faceting analogs (SURVEY.md §2.5) over parquet

FACET_PIVOT_SQL = """
    SELECT user_id,
           count(*) FILTER (event_type = 'click')    AS n_click,
           count(*) FILTER (event_type = 'error')    AS n_error,
           count(*) FILTER (event_type = 'purchase') AS n_purchase,
           count(*) FILTER (event_type = 'signup')   AS n_signup,
           count(*) FILTER (event_type = 'view')     AS n_view
    FROM events GROUP BY user_id ORDER BY user_id
"""


def _q_facet_pivot(spark, sf_dir, n):
    """faceted_data analog: pivot events per user over event_type."""
    events = _read(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (events.groupBy("user_id")
            .pivot("event_type", types)
            .agg(F.count(F.lit(1)))
            .na.fill(0, types)
            .select("user_id", *[F.col(t).alias("n_" + t) for t in types])
            .orderBy("user_id"))


STATS_GROUPBY_SQL = """
    SELECT lang, count(DISTINCT doc_id) AS n_docs,
           sum(n_chars)::BIGINT AS total_chars,
           round(avg(n_chars), 4) AS avg_chars
    FROM documents GROUP BY lang ORDER BY lang
"""


def _q_stats_groupby(spark, sf_dir, n):
    """API-statistics analog (ref ferenda/wsgiapp.py:352-506)."""
    docs = _read(spark, sf_dir, "documents")
    return (docs.groupBy("lang")
            .agg(F.countDistinct("doc_id").alias("n_docs"),
                 F.sum("n_chars").alias("total_chars"),
                 F.round(F.avg("n_chars"), 4).alias("avg_chars"))
            .orderBy("lang"))


WINDOW_TOPK_SQL = """
    SELECT lang, rank, doc_id, n_chars FROM (
      SELECT lang, doc_id, n_chars,
             row_number() OVER (PARTITION BY lang
                                ORDER BY n_chars DESC, doc_id ASC)
               AS rank
      FROM documents)
    WHERE rank <= 3 ORDER BY lang, rank
"""


def _q_window_topk(spark, sf_dir, n):
    """TOC/news top-k-per-group analog."""
    docs = _read(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (docs.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 3)
            .select("lang", "rank", "doc_id", "n_chars")
            .orderBy("lang", "rank"))


EVENTS_WINDOWED_SQL = """
    SELECT strftime(time_bucket(INTERVAL 1 DAY, ts),
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, count(*) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM events GROUP BY 1, 2 ORDER BY window_start, event_type
"""


def _q_events_windowed(spark, sf_dir, n):
    """Tumbling event-time window rollup (streaming/windows.py —
    batch form; the streaming form shares the expression)."""
    from ferenda_spark.streaming.windows import windowed_event_counts
    return windowed_event_counts(_read(spark, sf_dir, "events"))


def _q_events_asof(spark, sf_dir, n):
    """Backward as-of join (versioning.asof_join): every event picks
    the per-user config version current at event time (versions land
    hourly+6h per user starting 01:00, so first-hour events match
    NULL); oracle = DuckDB's NATIVE ASOF LEFT JOIN over the same
    formulaic version table — semantics pinned to the reference
    implementation of the concept."""
    from ferenda_spark.operators.versioning import asof_join
    events = _read(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id")
    r = F.col("id")
    versions = spark.range(150 * 4).select(
        (r % 150).cast("long").alias("user_id"),
        (F.lit("2024-01-01 01:00:00").cast("timestamp") +
         F.make_interval(hours=(r / 150).cast("int") * 6)).alias("ts"),
        (r / 150).cast("long").alias("version"))
    out = asof_join(events, versions, ["user_id"],
                    value_cols=["version"])
    return out.select("event_id", F.col("ts").cast("string").alias("ts"),
                      "user_id", "version")


def _q_events_range_join(spark, sf_dir, n):
    """Grid-bucketed range join (versioning.range_join): formulaic
    points land in formulaic per-key validity intervals (start ≤ ts <
    end); boundary points sit exactly on starts/ends of every 8th
    interval, intervals span 0-4 grid cells so the explode fan-out and
    the single-cell point path are both exercised. Oracle: the plain
    inequality join (DuckDB IEJoin)."""
    from ferenda_spark.operators.versioning import range_join
    i = F.col("id")
    intervals = spark.range(200).select(
        i.alias("interval_id"), (i % 10).alias("key"),
        ((i * 7) % 1000).alias("start"),
        ((i * 7) % 1000 + (i % 5) * 130 + 5).alias("end"))
    points = spark.range(2000).select(
        i.alias("point_id"), (i % 10).alias("key"),
        F.when(i % 8 == 0, (F.floor(i / 8).cast("long") * 7) % 1000)
         .otherwise(i % 1009).alias("ts"))
    return range_join(points, intervals, on=["key"], grid=64)


EVENTS_RANGE_SQL = """
    WITH intervals AS (
      SELECT r AS interval_id, r % 10 AS key,
             (r * 7) % 1000 AS start,
             (r * 7) % 1000 + (r % 5) * 130 + 5 AS "end"
      FROM range(200) t(r)),
    points AS (
      SELECT r AS point_id, r % 10 AS key,
             CASE WHEN r % 8 = 0 THEN ((r // 8) * 7) % 1000
                  ELSE r % 1009 END AS ts
      FROM range(2000) t(r))
    SELECT p.point_id, p.key, p.ts,
           i.interval_id, i.start, i."end"
    FROM points p JOIN intervals i
      ON p.key = i.key AND p.ts >= i.start AND p.ts < i."end"
"""


def _q_events_interval_overlap(spark, sf_dir, n):
    """Grid-bucketed interval×interval overlap join
    (versioning.interval_overlap): formulaic validity windows ↔
    formulaic campaign windows on the same key, half-open semantics
    (touching ends never match), every 7th campaign empty (matches
    nothing), spans of 0-4 grid cells on both sides so the
    first-shared-cell dedup is load-bearing. Oracle: the plain
    inequality join."""
    from ferenda_spark.operators.versioning import interval_overlap
    i = F.col("id")
    left = spark.range(200).select(
        i.alias("interval_id"), (i % 10).alias("key"),
        ((i * 7) % 1000).alias("start"),
        ((i * 7) % 1000 + (i % 5) * 130 + 5).alias("end"))
    right = spark.range(150).select(
        i.alias("campaign_id"), (i % 10).alias("key"),
        ((i * 13) % 1000).alias("rstart"),
        ((i * 13) % 1000 + (i % 7) * 60).alias("rend"))
    return interval_overlap(left, right, on=["key"], grid=64)


EVENTS_OVERLAP_SQL = """
    WITH lv AS (
      SELECT r AS interval_id, r % 10 AS key,
             (r * 7) % 1000 AS start,
             (r * 7) % 1000 + (r % 5) * 130 + 5 AS "end"
      FROM range(200) t(r)),
    rv AS (
      SELECT r AS campaign_id, r % 10 AS key,
             (r * 13) % 1000 AS rstart,
             (r * 13) % 1000 + (r % 7) * 60 AS rend
      FROM range(150) t(r))
    SELECT l.interval_id, l.key, l.start, l."end",
           r.campaign_id, r.rstart, r.rend
    FROM lv l JOIN rv r
      ON l.key = r.key AND l.start < r.rend AND r.rstart < l."end"
      AND r.rend > r.rstart AND l."end" > l.start
"""


EVENTS_ASOF_SQL = """
    WITH versions AS (
      SELECT (r % 150)::BIGINT AS user_id,
             TIMESTAMP '2024-01-01 01:00:00'
               + INTERVAL 6 HOUR * (r // 150) AS ts,
             (r // 150)::BIGINT AS version
      FROM range(600) t(r))
    SELECT e.event_id, e.ts::varchar AS ts, e.user_id, v.version
    FROM events e ASOF LEFT JOIN versions v
      ON e.user_id = v.user_id AND e.ts >= v.ts
"""


EVENTS_SESSIONIZE_SQL = """
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                       >= 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), with_id AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING)
               AS session_seq
      FROM flagged
    )
    SELECT user_id, session_seq::BIGINT AS session_seq,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S')
             AS session_start,
           count(*) AS n_events,
           (epoch_us(max(ts)) - epoch_us(min(ts)))::BIGINT
             AS duration_us
    FROM with_id GROUP BY user_id, session_seq
    ORDER BY user_id, session_seq
"""


def _q_events_sessionize(spark, sf_dir, n):
    """Gap-based session reconstruction per user (30-minute gap)."""
    from ferenda_spark.streaming.windows import sessionize
    return sessionize(_read(spark, sf_dir, "events"))


REVERSE_REFS_SQL = """
    SELECT o.o_custkey AS custkey, c.c_name,
           count(*) AS n_orders,
           round(sum(o.o_totalprice), 2) AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY o.o_custkey, c.c_name ORDER BY custkey
"""


def _q_reverse_refs(spark, sf_dir, n):
    """relate_dependencies-shaped reverse-reference join on TPC-H:
    per-customer inbound order count (broadcast dim join)."""
    orders = _read(spark, sf_dir, "orders")
    customer = _read(spark, sf_dir, "customer")
    agg = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"))
    return (agg.join(F.broadcast(customer.select("c_custkey", "c_name")),
                     agg.o_custkey == F.col("c_custkey"))
            .select(F.col("c_custkey").alias("custkey"), "c_name",
                    "n_orders", "total_price")
            .orderBy("custkey"))


LINEITEM_PRICING_SQL = """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)
             AS sum_disc_price,
           count(*) AS count_order
    FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
"""


def _q_lineitem_pricing(spark, sf_dir, n):
    """TPC-H Q1-shaped scan+agg (bench headline; pushdown showcase)."""
    li = _read(spark, sf_dir, "lineitem")
    return (li.where(F.col("l_shipdate") <= "1998-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice") *
                               (1 - F.col("l_discount"))), 2)
                  .alias("sum_disc_price"),
                 F.count(F.lit(1)).alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


# ------------------------------------------------------------ registry

class Query(NamedTuple):
    """One driver query, declared once. ``build(spark, sf_dir, n)``
    plans it (``n`` = synthetic pages corpus size; queries that only
    read the ``sf_dir`` tables ignore it), ``oracle(inputs)`` returns
    its DuckDB twin, and ``bench`` puts it in bench.py's timed set."""
    name: str
    build: Callable[[SparkSession, str, int], DataFrame]
    oracle: Callable[["OracleInputs"], str]
    bench: bool = False


class OracleInputs(NamedTuple):
    kg: dict[str, str]   # materialized KG extraction parquet at n
    ann: dict            # cross-execution ANN twin tables
    jaccard: str         # brute-force jaccard ground truth (3 oracles)


def oracle_inputs(n: int) -> OracleInputs:
    """Materialize what the oracles read (pure pandas/pyarrow; no-op
    when cached), so the driver can run the SQL right away."""
    from ferenda_spark import annoracle
    from ferenda_spark.operators import dedup
    # the quadratic jaccard ground truth is materialized once (same
    # DuckDB engine + SQL, cached by input/kernel fingerprint) and
    # shared by three oracles — see dedup.ensure_jaccard_pairs_oracle
    jaccard = ("SELECT * FROM read_parquet('%s') ORDER BY a_id, b_id"
               % dedup.ensure_jaccard_pairs_oracle(CORRECTNESS_SF_DIR,
                                                   threshold=0.5))
    return OracleInputs(_kg_paths(n),
                        annoracle.ensure_ann_tables(CORRECTNESS_SF_DIR),
                        jaccard)


def registry() -> tuple[Query, ...]:
    """Every driver query in driver order; queries(), oracle_sql() and
    bench.py are views over this one list."""
    from ferenda_spark import annoracle, kgoracle, sparql
    from ferenda_spark.operators import dedup, graphops, similarity, textops
    from ferenda_spark.operators import linking as _linking_ops
    from ferenda_spark.operators import sketches as _sketches
    from ferenda_spark.operators import validate as _validate
    return (
        # KG pipeline; oracles over the materialized extraction
        # (ferenda_spark.kgcache docstring explains the scheme)
        Query("kg_documents", _q_kg_documents,
              lambda o: kgoracle.sql_documents(o.kg)),
        Query("kg_triples", _q_kg_triples,
              lambda o: kgoracle.sql_triples(o.kg)),
        Query("kg_resources", _q_kg_resources,
              lambda o: kgoracle.sql_resources(o.kg)),
        # the rendered-XHTML round trip must reproduce the triples
        # table exactly, so it shares kg_triples' oracle
        Query("kg_xhtml_roundtrip", _q_kg_xhtml_roundtrip,
              lambda o: kgoracle.sql_triples(o.kg)),
        Query("kg_deps", _q_kg_deps, lambda o: kgoracle.sql_deps(o.kg)),
        Query("kg_entities", _q_kg_entities,
              lambda o: kgoracle.sql_entities(o.kg)),
        # the incremental query's oracle IS the full recompute:
        # incremental ≡ from-scratch is the semantic spec
        Query("kg_entities_delta", _q_kg_entities_delta,
              lambda o: kgoracle.sql_entities(o.kg), bench=True),
        Query("kg_canonical_triples", _q_kg_canonical_triples,
              lambda o: kgoracle.sql_canonical_triples(o.kg)),
        Query("kg_linked_publishers", _q_kg_linked_publishers,
              lambda o: kgoracle.sql_linked_publishers(
                  o.kg, _kg_dictionary())),
        Query("kg_faceted", _q_kg_faceted,
              lambda o: kgoracle.sql_faceted(o.kg)),
        Query("kg_faceted_typed", _q_kg_faceted_typed,
              lambda o: _kg_facet_query_sql(o.kg)),
        Query("kg_toc", _q_kg_toc,
              lambda o: kgoracle.sql_toc(o.kg, _kg_commondata()), bench=True),
        Query("kg_toc_pagesets", _q_kg_toc_pagesets,
              lambda o: kgoracle.sql_toc_pagesets(o.kg, _kg_commondata())),
        Query("kg_facet_stats", _q_kg_facet_stats,
              lambda o: kgoracle.sql_facet_stats(o.kg)),
        Query("kg_ispartof_closure", _q_kg_ispartof_closure,
              lambda o: kgoracle.sql_ispartof_closure(o.kg)),
        Query("kg_inbound_refs", _q_kg_inbound_refs,
              lambda o: kgoracle.sql_inbound_refs(o.kg)),
        Query("kg_pagerank", _q_kg_pagerank,
              lambda o: kgoracle.sql_pagerank(o.kg)),
        Query("kg_ppr", _q_kg_ppr,
              lambda o: kgoracle.sql_personalized_pagerank(
                  o.kg, "node NOT LIKE '%#%'"), bench=True),
        Query("kg_hits", _q_kg_hits, lambda o: kgoracle.sql_hits(o.kg)),
        Query("kg_walks", _q_kg_walks,
              lambda o: kgoracle.sql_random_walks(o.kg), bench=True),
        Query("kg_walk_pairs", _q_kg_walk_pairs,
              lambda o: kgoracle.sql_walk_pairs(o.kg)),
        Query("kg_pmi", _q_kg_pmi,
              lambda o: kgoracle.sql_pmi_scores(o.kg), bench=True),
        Query("kg_linkpred", _q_kg_linkpred,
              lambda o: kgoracle.sql_adamic_adar(o.kg), bench=True),
        Query("kg_kcore", _q_kg_kcore,
              lambda o: kgoracle.sql_kcore(
                  o.kg, k=2, edges_cte=("e AS (SELECT center AS src, "
                                      "context AS dst FROM (%s))"
                                      % kgoracle.sql_walk_pairs(o.kg))),
              bench=True),
        Query("kg_negatives", _q_kg_negatives,
              lambda o: kgoracle.sql_negative_samples(o.kg,
                                                      per_positive=2),
              bench=True),
        Query("kg_cocitation", _q_kg_cocitation,
              lambda o: kgoracle.sql_cocitation_coupling(
                  o.kg, edges_cte=(
                      "e AS (SELECT subject AS src, object AS dst FROM "
                      "read_parquet('%s') WHERE predicate IN "
                      "('http://purl.org/dc/terms/references', "
                      "'http://purl.org/dc/terms/isPartOf') AND objtype = "
                      "'uri')" % o.kg["triples"])), bench=True),
        Query("kg_charsets", _q_kg_charsets,
              lambda o: kgoracle.sql_characteristic_sets(o.kg), bench=True),
        Query("kg_distances", _q_kg_distances,
              lambda o: kgoracle.sql_bfs_distances(
                  o.kg,
                  seeds_cte=("seeds AS (SELECT DISTINCT uri AS node FROM "
                             "read_parquet('%s'))" % o.kg["documents"]),
                  edges_cte=(
                      "e AS (SELECT subject AS src, object AS dst FROM "
                      "read_parquet('{t}') WHERE predicate = "
                      "'http://purl.org/dc/terms/references' AND objtype = "
                      "'uri' UNION ALL SELECT object, subject FROM "
                      "read_parquet('{t}') WHERE predicate = "
                      "'http://purl.org/dc/terms/isPartOf' AND objtype = "
                      "'uri')".format(t=o.kg["triples"]))), bench=True),
        Query("kg_modularity", _q_kg_modularity,
              lambda o: kgoracle.sql_modularity(o.kg), bench=True),
        Query("kg_completeness", _q_kg_completeness,
              lambda o: _validate.sql_completeness_report(
                  "read_parquet('%s')" % o.kg["triples"]), bench=True),
        Query("kg_degree_dist", _q_kg_degree_dist,
              lambda o: kgoracle.sql_degree_histogram(
                  o.kg, edges_cte=_KG_LINK_EDGES_CTE % o.kg["triples"]),
              bench=True),
        Query("kg_graph_stats", _q_kg_graph_stats,
              lambda o: kgoracle.sql_graph_stats(
                  o.kg, edges_cte=_KG_LINK_EDGES_CTE % o.kg["triples"]),
              bench=True),
        Query("kg_summaries", _q_kg_summaries,
              lambda o: kgoracle.sql_entity_summaries(o.kg), bench=True),
        Query("kg_title_pairs", _q_kg_title_pairs,
              lambda o: _linking_ops.sql_blocked_pairs(
                  "read_parquet('%s')" % o.kg["documents"]), bench=True),
        Query("kg_citation_degrees", _q_kg_citation_degrees,
              lambda o: kgoracle.sql_citation_degrees(o.kg)),
        Query("kg_citation_map", _q_kg_citation_map,
              lambda o: kgoracle.sql_citation_map(o.kg)),
        Query("kg_triangles", _q_kg_triangles,
              lambda o: kgoracle.sql_triangles(o.kg), bench=True),
        Query("kg_communities", _q_kg_communities,
              lambda o: kgoracle.sql_communities(o.kg), bench=True),
        Query("kg_scc", _q_kg_scc,
              lambda o: graphops.sql_scc(KG_SCC_EDGES_SQL), bench=True),
        Query("kg_anf", _q_kg_anf,
              lambda o: graphops.sql_anf(KG_ANF_EDGES_SQL, rounds=6),
              bench=True),
        Query("kg_type_inference", _q_kg_type_inference,
              lambda o: kgoracle.sql_type_inference(o.kg), bench=True),
        Query("kg_centrality", _q_kg_centrality,
              lambda o: graphops.sql_anf_centrality(
                  KG_ANF_EDGES_SQL, rounds=6), bench=True),
        Query("kg_pagerank_delta", _q_kg_pagerank_delta,
              lambda o: kgoracle.sql_pagerank_delta(o.kg), bench=True),
        Query("kg_sssp", _q_kg_sssp,
              lambda o: graphops.sql_weighted_sssp(
                  KG_SSSP_EDGES_SQL,
                  "SELECT 'n000' AS node UNION ALL SELECT 'n007'"),
              bench=True),
        Query("kg_condensation", _q_kg_condensation,
              lambda o: graphops.sql_condensation(KG_SCC_EDGES_SQL),
              bench=True),
        Query("kg_host_graph", _q_kg_host_graph, lambda o: HOST_GRAPH_SQL),
        Query("kg_domain_pagerank", _q_kg_domain_pagerank,
              lambda o: kgoracle.sql_pagerank(
                  o.kg, edges_cte=HOST_EDGES_CTE), bench=True),
        Query("kg_domain_pagerank_weighted", _q_kg_domain_pagerank_weighted,
              lambda o: kgoracle.sql_weighted_pagerank(
                  o.kg, edges_cte=HOST_WEDGES_CTE), bench=True),
        Query("kg_structured_data", _q_kg_structured_data,
              lambda o: STRUCTDATA_SQL, bench=True),
        Query("warc_ingest", _q_warc_ingest, lambda o: WARC_SQL, bench=True),
        Query("robots_filter", _q_robots_filter,
              lambda o: ROBOTS_SQL, bench=True),
        Query("kg_sparql_structdata", _q_kg_sparql_structdata,
              lambda o: sparql.compile_sql(
                  "(SELECT subject, predicate, object, objtype, "
                  "NULL::VARCHAR AS lang, NULL::VARCHAR AS datatype, "
                  "source_url, source_url AS context FROM (%s) sd)"
                  % STRUCTDATA_SQL, _STRUCTDATA_SPARQL), bench=True),
        Query("cdx_index", _q_cdx_index, lambda o: CDX_SQL, bench=True),
        Query("sitemap_entries", _q_sitemap_entries,
              lambda o: SITEMAP_SQL, bench=True),
        Query("warc_to_pages", _q_warc_to_pages,
              lambda o: WARC_PAGES_SQL, bench=True),
        Query("latest_captures", _q_latest_captures,
              lambda o: LATEST_CAPTURES_SQL, bench=True),
        Query("politeness_schedule", _q_politeness_schedule,
              lambda o: POLITENESS_SQL, bench=True),
        Query("revisit_stats", _q_revisit_stats,
              lambda o: REVISIT_SQL, bench=True),
        Query("recrawl_priority", _q_recrawl_priority,
              lambda o: RECRAWL_SQL, bench=True),
        Query("structdata_entities", _q_structdata_entities,
              lambda o: STRUCT_ENTITIES_SQL, bench=True),
        Query("kg_rdfs_entailed", _q_kg_rdfs_entailed,
              lambda o: _kg_rdfs_sql(o.kg), bench=True),
        Query("kg_owl_entailed", _q_kg_owl_entailed,
              lambda o: _kg_owl_sql(o.kg), bench=True),
        Query("kg_rdfs_delta", _q_kg_rdfs_delta,
              lambda o: _kg_rdfs_delta_sql(o.kg)),
        Query("kg_shacl_report", _q_kg_shacl_report,
              lambda o: _kg_shacl_sql(o.kg), bench=True),
        Query("kg_sparql_update", _q_kg_sparql_update,
              lambda o: _kg_update_sql(o.kg), bench=True),
        Query("kg_void_stats", _q_kg_void_stats,
              lambda o: _kg_void_sql(o.kg), bench=True),
        Query("kg_doc_stats", _q_kg_doc_stats,
              lambda o: kgoracle.sql_doc_stats(o.kg)),
        Query("kg_keyword_hubs", _q_kg_keyword_hubs,
              lambda o: kgoracle.sql_keyword_hubs(o.kg)),
        Query("kg_minted_uris", _q_kg_minted_uris,
              lambda o: kgoracle.sql_minted_uris(o.kg), bench=True),
        Query("kg_annotations", _q_kg_annotations,
              lambda o: kgoracle.sql_annotations(o.kg), bench=True),
        Query("kg_stale", _q_kg_stale,
              lambda o: kgoracle.sql_stale(o.kg, _kg_changed_urls())),
        Query("kg_news_feedsets", _q_kg_news_feedsets,
              lambda o: kgoracle.sql_news_feedsets(o.kg, _kg_commondata())),
        Query("kg_news_feed_entries", _q_kg_news_feed_entries,
              lambda o: kgoracle.sql_news_feed_entries(o.kg,
                                                       _kg_commondata())),
        Query("kg_citations", _q_kg_citations,
              lambda o: kgoracle.sql_citations(o.kg)),
        Query("kg_citations_stock", _q_kg_citations_stock,
              lambda o: _kg_citations_stock_sql(o.kg)),
        Query("kg_routing", _q_kg_routing, lambda o: _kg_routing_sql(o.kg)),
        Query("kg_search", _q_kg_search,
              lambda o: _kg_search_sql(o.kg), bench=True),
        Query("kg_search_indexed", _q_kg_search_indexed,
              lambda o: _kg_search_sql(o.kg), bench=True),
        Query("kg_search_fused", _q_kg_search_fused,
              lambda o: KG_SEARCH_FUSED_SQL % (_kg_search_sql(o.kg),
                                               kgoracle.sql_pagerank(o.kg)),
              bench=True),
        # incremental index ≡ full rebuild, by definition — same twin
        Query("kg_search_delta", _q_kg_search_delta,
              lambda o: _kg_search_sql(o.kg), bench=True),
        Query("kg_sparql", _q_kg_sparql,
              lambda o: _kg_sparql_sql(o.kg, _KG_SPARQL_QUERY), bench=True),
        Query("kg_sparql_graphvar", _q_kg_sparql_graphvar,
              lambda o: sparql.compile_sql(
                  "(SELECT subject, predicate, object, objtype, lang, "
                  "datatype, source_url, source_url AS context "
                  "FROM read_parquet('%s'))" % o.kg["triples"],
                  _KG_SPARQL_GRAPHVAR)),
        Query("kg_sparql_pathvar", _q_kg_sparql_pathvar,
              lambda o: sparql.compile_sql(
                  "(SELECT subject, predicate, object, objtype, lang, "
                  "datatype, source_url, source_url AS context "
                  "FROM read_parquet('%s'))" % o.kg["triples"],
                  _KG_SPARQL_PATHVAR), bench=True),
        Query("kg_crawl_delta", _q_kg_crawl_delta,
              lambda o: kgoracle.sql_crawl_delta(o.kg, KG_NEW_URL),
              bench=True),
        Query("kg_conflicts", _q_kg_conflicts,
              lambda o: kgoracle.sql_conflicts(o.kg)),
        Query("kg_fused", _q_kg_fused,
              lambda o: kgoracle.sql_fused(o.kg), bench=True),
        Query("kg_triple_intervals", _q_kg_triple_intervals,
              lambda o: kgoracle.sql_triple_intervals(
                  o.kg, KG_NEW_URL, KG_CRAWL_TS), bench=True),
        # as-of inside crawl 2's window ≡ crawl 2's snapshot, by
        # definition — the oracle states the identity, not the
        # interval machinery
        Query("kg_asof", _q_kg_asof,
              lambda o: kgoracle.sql_asof_crawl2(o.kg, KG_NEW_URL)),
        Query("kg_provenance", _q_kg_provenance,
              lambda o: kgoracle.sql_provenance(o.kg), bench=True),
        Query("kg_nquads", _q_kg_nquads,
              lambda o: KG_NQUADS_SQL_TMPL % (
                  "read_parquet('%s')" % o.kg["triples"]), bench=True),
        Query("kg_describe", _q_kg_describe,
              lambda o: _kg_sparql_sql(
                  o.kg, _ANNOTATIONS_RQ % {"uri": _DESCRIBE_URI})),
        Query("kg_describe_sparql", _q_kg_describe_sparql,
              lambda o: _kg_sparql_sql(o.kg, _KG_DESCRIBE_SPARQL)),
        Query("kg_sparql_stats", _q_kg_sparql_stats,
              lambda o: _kg_sparql_sql(o.kg, _KG_SPARQL_STATS)),
        Query("kg_sparql_bind", _q_kg_sparql_bind,
              lambda o: _kg_sparql_sql(o.kg, _KG_SPARQL_BIND)),
        Query("kg_sparql_orphans", _q_kg_sparql_orphans,
              lambda o: _kg_sparql_sql(o.kg, _KG_SPARQL_ORPHANS)),
        Query("kg_sparql_langdt", _q_kg_sparql_langdt,
              lambda o: _kg_sparql_sql(o.kg, _KG_SPARQL_LANGDT)),
        Query("kg_sparql_minus", _q_kg_sparql_minus,
              lambda o: _kg_sparql_sql(o.kg, _KG_SPARQL_MINUS)),
        Query("kg_sparql_agg", _q_kg_sparql_agg,
              lambda o: _kg_sparql_sql(o.kg, _KG_SPARQL_AGG)),
        Query("kg_sparql_subquery", _q_kg_sparql_subquery,
              lambda o: _kg_sparql_sql(o.kg, _KG_SPARQL_SUBQUERY)),
        Query("kg_sparql_seqpath", _q_kg_sparql_seqpath,
              lambda o: _kg_sparql_sql(o.kg, _KG_SPARQL_SEQPATH)),
        Query("kg_sparql_nested", _q_kg_sparql_nested,
              lambda o: _kg_sparql_sql(o.kg, _KG_SPARQL_NESTED), bench=True),
        Query("kg_sparql_exists_expr", _q_kg_sparql_exists_expr,
              lambda o: _kg_sparql_sql(o.kg, _KG_SPARQL_EXISTS_EXPR),
              bench=True),
        Query("kg_sparql_datetime", _q_kg_sparql_datetime,
              lambda o: _kg_sparql_sql(o.kg, _KG_SPARQL_DATETIME), bench=True),
        Query("kg_sparql_construct_bnode", _q_kg_sparql_construct_bnode,
              lambda o: _kg_sparql_sql(o.kg, _KG_SPARQL_CONSTRUCT_BNODE),
              bench=True),
        Query("kg_sparql_optagg", _q_kg_sparql_optagg,
              lambda o: _kg_sparql_sql(o.kg, _KG_SPARQL_OPTAGG), bench=True),
        Query("kg_sparql_casts", _q_kg_sparql_casts,
              lambda o: _kg_sparql_sql(o.kg, _KG_SPARQL_CASTS), bench=True),
        Query("kg_sparql_top_cited", _q_kg_sparql_top_cited,
              lambda o: _kg_sparql_sql(o.kg, _KG_SPARQL_TOP_CITED),
              bench=True),
        Query("kg_sparql_groupkey", _q_kg_sparql_groupkey,
              lambda o: _kg_sparql_sql(o.kg, _KG_SPARQL_GROUPKEY), bench=True),
        Query("kg_describe_rfc", _q_kg_describe_rfc,
              lambda o: _kg_sparql_sql(
                  o.kg, _RFC_ANNOTATIONS_RQ % {"uri": _DESCRIBE_URI}),
              bench=True),
        Query("kg_describe_base", _q_kg_describe_base,
              lambda o: _kg_sparql_sql(
                  o.kg, _DESCRIBE_BASE_RQ % {"uri": _DESCRIBE_URI})),
        Query("kg_versions", _q_kg_versions,
              lambda o: kgoracle.sql_versions(o.kg, KG_NEW_URL)),
        Query("kg_stage_counters", _q_kg_stage_counters,
              lambda o: kgoracle.sql_stage_counters(o.kg)),
        # sketch / text / crawl ops over the driver's parquet views
        Query("hll_distinct", _q_hll_distinct,
              lambda o: _sketches.sql_hll_distinct(
                  "documents", keys=["lang"], value="text", p=6), bench=True),
        Query("cms_counts", _q_cms_counts,
              lambda o: _sketches.sql_cms_estimate(
                  ("(SELECT unnest(CASE WHEN trim(coalesce(text, '')) = ''"
                   " THEN []::VARCHAR[] ELSE regexp_split_to_array("
                   "trim(coalesce(text, '')), '%s') END) AS w"
                   " FROM documents)" % textops.WS_SPLIT),
                  "w",
                  "SELECT * FROM (VALUES %s) v(value)" % ", ".join(
                      "('%s')" % c for c in CMS_CANDIDATES)), bench=True),
        Query("bloom_urls", _q_bloom_words,
              lambda o: _sketches.sql_bloom_contains(
                  ("(SELECT unnest(CASE WHEN trim(coalesce(text, '')) = ''"
                   " THEN []::VARCHAR[] ELSE regexp_split_to_array("
                   "trim(coalesce(text, '')), '%s') END) AS w"
                   " FROM documents)" % textops.WS_SPLIT),
                  "w",
                  "SELECT * FROM (VALUES %s) v(value)" % ", ".join(
                      "('%s')" % c for c in BLOOM_CANDIDATES)), bench=True),
        Query("crawl_overlap", _q_crawl_overlap,
              lambda o: _crawl_overlap_oracle_sql(), bench=True),
        Query("related_docs", _q_related_docs,
              lambda o: textops.oracle_sql_related_docs(), bench=True),
        Query("top_terms", _q_top_terms,
              lambda o: textops.oracle_sql_top_terms(k=5)),
        Query("language_id", _q_langid,
              lambda o: textops.oracle_sql_language_id(), bench=True),
        Query("anchor_stats", _q_anchor_stats,
              lambda o: textops.oracle_sql_anchor_stats(
                  table=ANCHOR_DOCS_SQL), bench=True),
        Query("frontier_expand", _q_frontier_expand,
              lambda o: FRONTIER_SQL % {"anchor_docs":
                                        ANCHOR_DOCS_SQL}, bench=True),
        Query("redirect_resolve", _q_redirect_resolve,
              lambda o: REDIRECTS_SQL, bench=True),
        Query("page_metadata", _q_page_metadata,
              lambda o: textops.oracle_sql_page_metadata(
                  table=HEAD_DOCS_SQL), bench=True),
        Query("dedup_delta", _q_dedup_delta,
              lambda o: dedup.oracle_sql_dedup_delta(
                  "(SELECT doc_id, text FROM documents)", DELTA_BATCH_SQL),
              bench=True),
        # relational / faceting analogs
        Query("facet_pivot", _q_facet_pivot,
              lambda o: FACET_PIVOT_SQL, bench=True),
        Query("events_windowed", _q_events_windowed,
              lambda o: EVENTS_WINDOWED_SQL, bench=True),
        Query("events_sessionize", _q_events_sessionize,
              lambda o: EVENTS_SESSIONIZE_SQL, bench=True),
        Query("events_asof", _q_events_asof,
              lambda o: EVENTS_ASOF_SQL, bench=True),
        Query("events_range_join", _q_events_range_join,
              lambda o: EVENTS_RANGE_SQL, bench=True),
        Query("events_interval_overlap", _q_events_interval_overlap,
              lambda o: EVENTS_OVERLAP_SQL, bench=True),
        Query("stats_groupby", _q_stats_groupby, lambda o: STATS_GROUPBY_SQL),
        Query("window_topk", _q_window_topk, lambda o: WINDOW_TOPK_SQL),
        Query("reverse_refs", _q_reverse_refs,
              lambda o: REVERSE_REFS_SQL, bench=True),
        Query("lineitem_pricing", _q_lineitem_pricing,
              lambda o: LINEITEM_PRICING_SQL, bench=True),
        # dedup / ANN family LAST — the wall-time tail of the gate
        # (VERDICT r3 #1: budget truncation hits the cheapest coverage
        # first when these run in the middle); ordered so the shared
        # shingle stage and LSH pair table warm for their reusers
        Query("dedup_exact", _q_dedup_exact,
              lambda o: dedup.oracle_sql_exact_duplicates(DUP_DOCS_SQL)),
        Query("dedup_lines", _q_line_dedup,
              lambda o: dedup.oracle_sql_line_dedup(table=BOILER_DOCS_SQL),
              bench=True),
        Query("dedup_windows", _q_dedup_windows,
              lambda o: dedup.oracle_sql_duplicate_windows(
                  table=SPAN_DOCS_SQL, k=20), bench=True),
        Query("ann_topk", _q_ann_topk,
              lambda o: similarity.oracle_sql_brute_force_topk(k=5,
                                                               n_queries=50),
              bench=True),
        # o.ann oracles: seeded probabilistic kernels (dedup_simhash,
        # ann_lsh/pq/ivf_topk, embedding_clusters) cannot promise
        # equality with brute force (recall is asserted in pytest), but
        # a single-threaded rerun of the same kernels is a hard oracle
        # for the distributed execution (ferenda_spark.annoracle
        # explains why it is bit-exact)
        Query("ann_lsh_topk", _q_ann_lsh_topk,
              lambda o: annoracle.sql_ann_topk(o.ann, "ann_lsh_topk")),
        Query("ann_pq_topk", _q_ann_pq_topk,
              lambda o: annoracle.sql_ann_topk(o.ann, "ann_pq_topk"),
              bench=True),
        Query("ann_ivf_topk", _q_ann_ivf_topk,
              lambda o: annoracle.sql_ann_topk(o.ann, "ann_ivf_topk")),
        Query("embedding_clusters", _q_embedding_clusters,
              lambda o: annoracle.sql_embedding_clusters(o.ann)),
        Query("dedup_embedding", _q_dedup_embedding,
              lambda o: dedup.oracle_sql_embedding_dup(threshold=0.45)),
        Query("dedup_embedding_blocked", _q_dedup_embedding_blocked,
              lambda o: dedup.oracle_sql_embedding_dup(threshold=0.45),
              bench=True),
        Query("dedup_simhash", _q_dedup_simhash,
              lambda o: annoracle.sql_simhash(o.ann), bench=True),
        # LSH verifies candidates with exact jaccard → same ground
        # truth as brute force (recall checked by the oracle).
        Query("dedup_minhash_lsh", _q_dedup_minhash_lsh,
              lambda o: o.jaccard, bench=True),
        Query("dedup_ngram_jaccard", _q_dedup_ngram_jaccard,
              lambda o: o.jaccard),
        Query("dedup_containment", _q_dedup_containment,
              lambda o: dedup.oracle_sql_containment(
                  _contain_docs_sql(), threshold=0.8), bench=True),
        Query("dedup_clusters", _q_dedup_clusters,
              lambda o: dedup.oracle_sql_dup_clusters(o.jaccard)),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {q.name: partial(q.build, n=KG_N) for q in registry()}


def oracle_sql() -> dict[str, str]:
    inputs = oracle_inputs(KG_N)
    return {q.name: q.oracle(inputs) for q in registry()}
