"""Faceting / TOC / stats read path over the triple table.

The reference materializes per-document "faceted rows" with one SPARQL
SELECT carrying one OPTIONAL clause per facet, then groups them into
TOC pagesets, feeds, and API statistics (ref
ferenda/documentrepository.py:2163-2310, 2774-2921; ferenda/facet.py:
128-338; ferenda/wsgiapp.py:352-506). On a triple DataFrame all of that
is pivot + group-by:

- :func:`faceted_data` — ``groupBy(subject).pivot(predicate)`` with
  qname-derived column names (``dcterms:title → dcterms_title``)
- :func:`toc_pageset` — firstletter/year-style grouping with per-group
  ordered member lists (the TocPageset/TocPage analog)
- :func:`facet_stats` — per-dimension value counts with per-(uri,value)
  dedup (the /api/ stats DataSet analog)

Scale notes: the pivot's predicate list is explicit (no two-pass
pivot-value discovery); group-bys are partial-aggregated map-side;
collect_list in :func:`toc_pageset` is bounded per page by ``top_n``
via a window, never unbounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..namespaces import NS

DEFAULT_FACETS = [
    NS["rdf"] + "type",
    NS["dcterms"] + "title",
    NS["dcterms"] + "identifier",
    NS["dcterms"] + "issued",
    NS["dcterms"] + "publisher",
]


def qname_col(pred_uri: str) -> str:
    """dcterms:title → dcterms_title (ref ferenda/facet.py qname
    mapping used for faceted-row keys)."""
    for prefix, ns in NS.items():
        if pred_uri.startswith(ns):
            return "%s_%s" % (prefix, pred_uri[len(ns):])
    return pred_uri.rsplit("/", 1)[-1]


def faceted_data(triples: DataFrame,
                 facets: list[str] | None = None,
                 rdf_type: str | None = None) -> DataFrame:
    """Pivot the triple table into one row per subject with one column
    per facet predicate (first value wins, as the reference's
    multiple-value warning path does —
    ref documentrepository.py:2107-2114), deduplicated.

    ``rdf_type`` gates subjects on ``?uri rdf:type <rdf_type>`` — the
    mandatory type clause of the reference's generated query
    (ref documentrepository.py:2220-2249) — as a semi-join against the
    typed subject set (broadcast: the type list per corpus slice is
    small relative to the full triple table)."""
    facets = facets or DEFAULT_FACETS
    if rdf_type is not None:
        typed = (triples
                 .where((F.col("predicate") == NS["rdf"] + "type") &
                        (F.col("object") == rdf_type))
                 .select("subject").distinct())
        triples = triples.join(typed, "subject", "left_semi")
    pivoted = (triples
               .where(F.col("predicate").isin(facets))
               .groupBy(F.col("subject").alias("uri"))
               .pivot("predicate", facets)
               .agg(F.min("object")))
    renamed = pivoted.select(
        "uri", *[F.col("`%s`" % p).alias(qname_col(p)) for p in facets])
    return renamed.dropDuplicates(["uri"])


def facet_query(facets: list[str] | None = None,
                rdf_type: str | None = None,
                table: str = "triples",
                context: str | None = None) -> str:
    """Generate the faceted-data query as SQL text — the engine's
    analog of the reference's generated SPARQL SELECT with one
    OPTIONAL clause per facet, a mandatory rdf:type clause, and a
    FROM <context> restriction (ref documentrepository.py:2220-2310).
    The generated text runs unchanged on Spark SQL and DuckDB; it is
    also used verbatim as the driver oracle for the typed facet query,
    so the generator itself is correctness-gated."""
    facets = facets or DEFAULT_FACETS
    cols = ",\n       ".join(
        "min(object) FILTER (WHERE predicate = '%s') AS %s"
        % (p, qname_col(p)) for p in facets)
    preds = ", ".join("'%s'" % p for p in facets)
    where = ["predicate IN (%s)" % preds]
    if context is not None:
        where.append("context = '%s'" % context)
    if rdf_type is not None:
        where.append(
            "subject IN (SELECT subject FROM %s WHERE predicate = '%s' "
            "AND object = '%s')" % (table, NS["rdf"] + "type", rdf_type))
    return ("SELECT subject AS uri,\n       %s\nFROM %s\nWHERE %s\n"
            "GROUP BY subject" % (cols, table, "\n  AND ".join(where)))


def toc_pageset(faceted: DataFrame, value_col: str,
                label_col: str = "dcterms_title",
                top_n: int = 50) -> DataFrame:
    """First-letter TOC grouping: (firstletter, n_docs, members) with
    members the first ``top_n`` (label, uri) pairs ordered by label
    (ref documentrepository.py:2774-2921 toc_pagesets /
    toc_select_for_pages; firstletter selector ferenda/facet.py:318)."""
    src = (faceted
           .where(F.col(value_col).isNotNull())
           .select(F.lower(F.substring(F.col(value_col), 1, 1))
                    .alias("firstletter"),
                   F.col(label_col).alias("label"), "uri"))
    w = Window.partitionBy("firstletter").orderBy("label", "uri")
    ranked = src.withColumn("rn", F.row_number().over(w))
    return (ranked.groupBy("firstletter")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sort_array(F.collect_list(
                     F.when(F.col("rn") <= top_n,
                            F.struct("label", "uri")))).alias("members"))
            .orderBy("firstletter"))


def facet_stats(triples: DataFrame,
                dimensions: list[str] | None = None) -> DataFrame:
    """Per-dimension observation counts, deduped per (subject, value):
    (dimension, value, n) — the /api/;stats DataSet
    (ref ferenda/wsgiapp.py:352-506 stats/stats_slice)."""
    dimensions = dimensions or [NS["rdf"] + "type",
                                NS["dcterms"] + "publisher"]
    return (triples
            .where(F.col("predicate").isin(dimensions))
            .groupBy(F.col("predicate").alias("dimension"),
                     F.col("object").alias("value"))
            .agg(F.countDistinct("subject").alias("n"))
            .orderBy("dimension", "value"))
