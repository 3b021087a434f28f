"""The read-only query mix: eight analyst queries over the pipeline's own
lake output, each with its independent DuckDB twin.

The SPARQL texts are those of the driver surface's ``kg_sparql``,
``kg_sparql_nested``, ``kg_sparql_top_cited`` and ``kg_describe`` queries,
kept here so the workload stays fixed when the program's query registry
changes.
"""

from __future__ import annotations

import os

SPARQL_OPTIONAL = """
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

SPARQL_NESTED = """
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
"""

SPARQL_TOP_CITED = """
PREFIX dct: <http://purl.org/dc/terms/>
SELECT ?o WHERE { ?s dct:isPartOf ?o }
GROUP BY ?o HAVING(COUNT(?s) >= 2)
ORDER BY DESC(COUNT(?s)) ?o LIMIT 10
"""

# the reference's annotations.rq: CONSTRUCT with an isPartOf* path
SPARQL_DESCRIBE = """
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
"""

SEARCH_TERMS = ["stream", "batch"]


class Lake:
    """Fresh DataFrames over the lake for every query: an analyst's query
    pays for listing and scanning the table."""

    def __init__(self, spark, root: str) -> None:
        self.spark, self.root = spark, root

    def triples(self):
        from ferenda_spark.lake import get_table_format
        return get_table_format().read(self.spark,
                                       os.path.join(self.root, "triples"))

    def table(self, name: str):
        return self.spark.read.parquet(os.path.join(self.root, name))


def mix(describe_uri: str) -> dict:
    """kind → (spark builder(Lake) → DataFrame, oracle(files) → SQL)."""
    from ferenda_spark import sparql
    from ferenda_spark.kgoracle import sql_pagerank
    from ferenda_spark.operators import fulltext, graphops, inference

    def sql(files, t):
        return "read_parquet('%s')" % files[t]

    def sparql_pair(text):
        return (lambda lake: sparql.compile_spark(lake.triples(), text),
                lambda files: sparql.compile_sql(sql(files, "triples"), text))

    describe = SPARQL_DESCRIBE % {"uri": describe_uri}
    return {
        "sparql.optional": sparql_pair(SPARQL_OPTIONAL),
        "sparql.nested": sparql_pair(SPARQL_NESTED),
        "sparql.top_cited": sparql_pair(SPARQL_TOP_CITED),
        "sparql.describe": sparql_pair(describe),
        "inference.rdfs": (
            lambda lake: inference.rdfs_materialize(
                lake.triples(), inference.CORPUS_ONTOLOGY),
            lambda files: inference.sql_rdfs_entailed(
                sql(files, "triples"), inference.CORPUS_ONTOLOGY)),
        "graphops.pagerank": (
            lambda lake: graphops.pagerank(
                graphops.citation_edges(lake.triples())),
            lambda files: sql_pagerank(files)),
        "fulltext.search": (
            lambda lake: fulltext.fulltext_search(
                lake.table("resources"), SEARCH_TERMS,
                docs=lake.table("documents")),
            lambda files: fulltext.oracle_sql_fulltext(
                sql(files, "resources"), SEARCH_TERMS,
                docs_table=sql(files, "documents"))),
        "graphops.void": (
            lambda lake: graphops.void_stats(lake.triples()),
            lambda files: graphops.sql_void_stats(sql(files, "triples"))),
    }
