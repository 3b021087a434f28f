"""Knowledge-fusion operators: conflict detection and value resolution
over the canonicalized triple table.

After owl:sameAs canonicalization (operators/relate.canonicalize_triples)
one canonical subject can carry several assertions of the same
functional property — re-crawls that observed different revisions,
mirrors/aggregators re-stating a value, extraction noise. The reference
resolves this implicitly by last-parse-wins per document (a changed
download replaces the doc's whole graph — ref
ferenda/documentrepository.py relate(): clear context + re-add); at lake
scale the conflicts are *data* a KG builder must surface and resolve
set-at-a-time:

- :func:`functional_conflicts` — the QA report: canonical subjects whose
  functional property carries more than one distinct value, with the
  source census and the value range.
- :func:`fuse_triples` — truth discovery by source voting: one resolved
  value per (subject, functional predicate), majority of independent
  sources, deterministic min-value tie-break (the classic
  majority-voting baseline of the data-fusion literature, e.g. Dong &
  Naumann, "Data Fusion — Resolving Data Conflicts for Integration",
  VLDB'09 tutorial).

Scale notes (100 TB): both operators filter to the functional predicate
list first — a static IN list that reaches the parquet scan as a pushed
filter (the lake's files are sorted by (predicate, subject), so
row-group statistics skip the other predicates' rows).
``functional_conflicts`` is ONE hash aggregation on
(subject, predicate) with map-side partial aggregation (the two
count-distincts expand-rewrite but stay a single exchange).
``fuse_triples`` aggregates support on (subject, predicate, object)
first — the map-side combine absorbs re-assertions of the same value,
so hub values never reach the reducer un-combined — then resolves the
winner with one window over the already value-distinct (and therefore
small) support table. No UDFs, nothing on the driver.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def functional_conflicts(triples: DataFrame,
                         predicates: Sequence[str]) -> DataFrame:
    """→ (subject, predicate, n_values, n_sources, min_object,
    max_object) for every (subject, functional predicate) carrying more
    than one distinct value; ordered by (subject, predicate).

    ``n_sources`` counts distinct asserting ``source_url``s — a
    conflict seen from many sources is a data problem, one seen from a
    single source is an extraction problem.
    """
    t = triples.where(F.col("predicate").isin(list(predicates)))
    return (t.groupBy("subject", "predicate")
            .agg(F.countDistinct("object").alias("n_values"),
                 F.countDistinct("source_url").alias("n_sources"),
                 F.min("object").alias("min_object"),
                 F.max("object").alias("max_object"))
            .where(F.col("n_values") > 1)
            .orderBy("subject", "predicate"))


def fuse_triples(triples: DataFrame,
                 predicates: Sequence[str]) -> DataFrame:
    """→ (subject, predicate, object, objtype, support, n_values): the
    resolved value per (subject, functional predicate) — the value
    asserted by the most distinct sources, ties broken by smallest
    (object, objtype); ``support`` is the winner's distinct-source
    count, ``n_values`` how many candidate values competed. Ordered by
    (subject, predicate).
    """
    t = triples.where(F.col("predicate").isin(list(predicates)))
    per_val = (t.groupBy("subject", "predicate", "object", "objtype")
               .agg(F.countDistinct("source_url").alias("support")))
    part = Window.partitionBy("subject", "predicate")
    rank = part.orderBy(F.col("support").desc(), F.col("object").asc(),
                        F.col("objtype").asc())
    return (per_val
            .withColumn("n_values", F.count(F.lit(1)).over(part))
            .withColumn("_rn", F.row_number().over(rank))
            .where(F.col("_rn") == 1)
            .select("subject", "predicate", "object", "objtype",
                    "support", "n_values")
            .orderBy("subject", "predicate"))
