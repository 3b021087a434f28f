"""The vectorized extraction stage: pages → documents/resources/triples.

Replaces the reference's per-file parse dispatch (one process per
basefile over a jobqueue, ref ferenda/manager.py:1039-1291) with a single
``mapInPandas`` over the pages table: per-document logic is pure Python
(ferenda_spark.extract), executed Arrow-batch-at-a-time on executors; no
per-row Python at the driver, no driver round-trips.

Scale notes (100 TB target):
- input scan prunes to (url, html) only — ReadSchema stays two columns
- the stage is embarrassingly parallel; throughput is bounded by
  per-core parse speed × executor count, so scaling efficiency N→4N is
  near-linear (no shuffle in this stage)
- downstream tables are produced by explode() projections of the wide
  result, not by re-parsing: the production path
  (:func:`ferenda_spark.pipeline.run`) persists the result, fills it
  with one count, and reads documents, resources, triples and lineage
  entries from that copy
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, StringType, StructField, StructType)

from ..extract import extract_document
from ..uris import RepoConfig

TRIPLE_FIELDS = ["subject", "predicate", "object", "objtype", "lang", "datatype"]

EXTRACT_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("uri", StringType()),
    StructField("lang", StringType()),
    StructField("title", StringType()),
    StructField("text", StringType()),
    StructField("status", StringType()),
    StructField("error", StringType()),
    StructField("resources", ArrayType(StructType([
        StructField("resource_uri", StringType()),
        StructField("text", StringType()),
    ]))),
    StructField("triples", ArrayType(StructType(
        [StructField(f, StringType()) for f in TRIPLE_FIELDS]))),
])


def extract_stage(pages: DataFrame, cfg: RepoConfig, commondata: dict,
                  patches: dict | None = None) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → wide extraction result.

    ``patches``: {url: (unified_diff, description)} applied pre-parse
    (broadcast with the closure; rare-row branch)."""
    def run(batches):
        from ..linking import ResourceLookup
        lookup = (ResourceLookup.from_dict(commondata).lookup
                  if commondata else None)
        for pdf in batches:
            rows = []
            for url, html in zip(pdf["url"], pdf["html"]):
                d = extract_document(url, html, cfg, lookup,
                                     patches=patches)
                rows.append({
                    "url": d["url"], "uri": d["uri"], "lang": d["lang"],
                    "title": d["title"], "text": d["text"],
                    "status": d["status"], "error": d["error"],
                    "resources": [{"resource_uri": u, "text": t}
                                  for u, t in d["resources"]],
                    "triples": [t._asdict() for t in d["triples"]],
                })
            yield pd.DataFrame(rows, columns=EXTRACT_SCHEMA.fieldNames())

    from .util import ensure_parallelism
    return ensure_parallelism(pages.select("url", "html")) \
        .mapInPandas(run, EXTRACT_SCHEMA)


def documents_table(extracted: DataFrame) -> DataFrame:
    return extracted.select("url", "uri", "lang", "title", "text", "status")


def resources_table(extracted: DataFrame) -> DataFrame:
    """(url, resource_uri, text) — the fulltext-index analog
    (ref ferenda/documentrepository.py:2010-2077)."""
    return (extracted
            .select("url", F.explode("resources").alias("r"))
            .select("url", F.col("r.resource_uri").alias("resource_uri"),
                    F.col("r.text").alias("text")))


def triples_table(extracted: DataFrame, context: str = "") -> DataFrame:
    """(subject, predicate, object, objtype, lang, datatype, source_url,
    context) — the triplestore analog. Partition/bucket on write by
    hash(subject); context = named-graph column
    (ref ferenda/documentrepository.py:1899-1926)."""
    t = (extracted
         .select("url", F.explode("triples").alias("t"))
         .select(F.col("t.subject").alias("subject"),
                 F.col("t.predicate").alias("predicate"),
                 F.col("t.object").alias("object"),
                 F.col("t.objtype").alias("objtype"),
                 F.col("t.lang").alias("lang"),
                 F.col("t.datatype").alias("datatype"),
                 F.col("url").alias("source_url")))
    return t.withColumn("context", F.lit(context))
