"""The production build: pages → the knowledge-graph lake, in one call.

:func:`run` is the library form of ``scripts/run_pipeline.py`` (which
stays a thin argv shim around it). Stages:

  1. incremental selection: anti-join of the pages against the previous
     lineage entries (``needed``) — only new or changed pages flow
  2. extract, ONCE: the wide extraction result is persisted and filled
     by one count (the ``processed`` counter); documents, resources,
     triples and the lineage entries are all read from that copy (as
     the reference parses each document once and relate/generate read
     the parse back); released in a ``finally``
  3. relate over the whole triple lake: one sameAs mapping (one CC run)
     serves entities and canonical triples, then deps
  4. the entries append, last — a run that dies before it is redone
     in full on restart
  5. counters: per-stage entry counts, the page count observed on the
     extraction's input (``Observation``) instead of a re-scan of the
     pages, and the row count of the triple lake

The stage functions are called through their modules (``extract.x``,
``lineage.x``, ``relate.x``), so a wrapper installed on a module
attribute sees every call.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import pages as P
from .lake import get_table_format
from .operators import extract, lineage, relate

CFG = P.CFG


def warc_pages(blobs: DataFrame) -> DataFrame:
    """WARC blob table (blob_id, warc binary) → the pages table: the
    200/HTTP responses as (url, warc_ts, html)."""
    from .operators.warc import warc_records
    return (warc_records(blobs)
            .where((F.col("rec_type") == "response") &
                   (F.col("http_status") == 200))
            .select("url",
                    F.to_timestamp("warc_date", "yyyy-MM-dd'T'HH:mm:ss'Z'")
                    .alias("warc_ts"),
                    F.col("payload").alias("html")))


def run(spark: SparkSession, pages: DataFrame, out: str,
        run_id: str) -> dict:
    """Build (or incrementally update) the lake under ``out`` from
    ``pages`` (url, html, ...) → {run_id, processed, skipped_fresh,
    triples, counters}."""
    def path(name):
        return os.path.join(out, name)

    entries_path = path("entries")
    prev_entries = (spark.read.parquet(entries_path)
                    if os.path.exists(entries_path) else None)
    n_pages = Observation()
    pages = pages.observe(n_pages, F.count(F.lit(1)).alias("n"))
    todo = lineage.needed(pages, prev_entries, "parse")

    extracted = extract.extract_stage(todo, CFG, P.COMMONDATA).persist()
    try:
        # the one Python pass: this count fills the copy every output
        # reads, and its job reports the page count observed beneath
        # it. A global count keeps the cached scan in its final plan
        # even when nothing is new; AQE drops an empty cached scan from
        # other plans (a write, a distinct) and the observation with it
        processed = extracted.count()
        lineage.merge_triples(spark,
                              extract.triples_table(extracted, context="kg"),
                              path("triples"))
        extract.documents_table(extracted).write.mode("overwrite") \
            .parquet(path("documents"))
        extract.resources_table(extracted).write.mode("overwrite") \
            .parquet(path("resources"))

        all_triples = get_table_format().read(spark, path("triples"))
        # the entities table IS the checkpointed sameAs mapping: built
        # once here, it is also canonicalize's mapping
        entities = relate.entities_table(all_triples)
        entities.write.mode("overwrite").parquet(path("entities"))
        relate.canonicalize_triples(all_triples, entities) \
            .write.mode("overwrite").parquet(path("canonical_triples"))
        docs = spark.read.parquet(path("documents"))
        relate.deps_table(all_triples, docs, CFG).write.mode("overwrite") \
            .parquet(path("deps"))

        lineage.entries_from_extracted(extracted, todo, "parse", run_id) \
            .write.mode("append").parquet(entries_path)
    finally:
        extracted.unpersist()

    counters = {r["stage"] + "/" + r["status"]: r["n_urls"]
                for r in lineage.stage_counters(
                    spark.read.parquet(entries_path)).collect()}
    return {
        "run_id": run_id,
        "processed": processed,
        "skipped_fresh": n_pages.get["n"] - processed,
        "triples": all_triples.count(),
        "counters": counters,
    }
