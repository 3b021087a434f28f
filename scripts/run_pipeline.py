"""spark-submit entrypoint: run the KG pipeline end-to-end.

Packaging + launch (the buildserver/buildclient analog —
ref ferenda/manager.py:1100-1291 — replaced by Spark app submission):

    cd /root/repo && zip -r /tmp/ferenda_spark.zip ferenda_spark
    spark-submit --master local[16] \
        --py-files /tmp/ferenda_spark.zip \
        scripts/run_pipeline.py \
        --pages /tmp/pages --out /tmp/kg --n-docs 10000

Stages executed (with per-stage lineage + counters written to
<out>/entries and idempotent bucketed triple writes to <out>/triples):

  1. provision pages table if --n-docs given (synthetic generator)
  2. incremental selection: anti-join vs previous entries (resume)
  3. extract → documents/resources/triples
  4. relate: deps + sameAs canonicalization + entities
  5. write tables + entries; print counters JSON
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", default=None, help="pages parquet dir")
    ap.add_argument("--warc", default=None,
                    help="WARC blob parquet dir (blob_id, warc binary)"
                         " — the Common-Crawl front door; records are"
                         " ingested and 200/HTTP responses become the"
                         " pages table (alternative to --pages)")
    ap.add_argument("--out", required=True, help="output root dir")
    ap.add_argument("--n-docs", type=int, default=0,
                    help="if >0, (re)generate the pages table first")
    ap.add_argument("--run-id", default=None)
    args = ap.parse_args()
    if bool(args.pages) == bool(args.warc):
        ap.error("exactly one of --pages / --warc is required")

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from pyspark.sql import SparkSession

    import ferenda_spark.pages as P
    from ferenda_spark.operators.extract import (documents_table,
                                                 extract_stage,
                                                 resources_table,
                                                 triples_table)
    from ferenda_spark.operators.lineage import (entries_from_extracted,
                                                 merge_triples, needed,
                                                 stage_counters)
    from ferenda_spark.operators.relate import (canonicalize_triples,
                                                deps_table, entities_table)
    from ferenda_spark.uris import RepoConfig

    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    cfg = RepoConfig(alias="doc", url="http://example.org/")
    run_id = args.run_id or time.strftime("r%Y%m%d%H%M%S")

    if args.n_docs and args.pages:
        P.build_pages(spark, args.n_docs, 64) \
            .write.mode("overwrite").parquet(args.pages)

    if args.warc:
        from pyspark.sql import functions as F

        from ferenda_spark.operators.warc import warc_records
        recs = warc_records(spark.read.parquet(args.warc))
        pages = (recs
                 .where((F.col("rec_type") == "response") &
                        (F.col("http_status") == 200))
                 .select("url",
                         F.to_timestamp(
                             "warc_date", "yyyy-MM-dd'T'HH:mm:ss'Z'")
                         .alias("warc_ts"),
                         F.col("payload").alias("html")))
    else:
        pages = spark.read.parquet(args.pages)
    entries_path = os.path.join(args.out, "entries")
    prev_entries = (spark.read.parquet(entries_path)
                    if os.path.exists(entries_path) else None)
    todo = needed(pages, prev_entries, "parse")

    extracted = extract_stage(todo, cfg, P.COMMONDATA)
    triples = triples_table(extracted, context="kg").persist()

    merge_triples(spark, triples, os.path.join(args.out, "triples"))
    documents_table(extracted).write.mode("overwrite") \
        .parquet(os.path.join(args.out, "documents"))
    resources_table(extracted).write.mode("overwrite") \
        .parquet(os.path.join(args.out, "resources"))

    all_triples = spark.read.parquet(os.path.join(args.out, "triples"))
    canonicalize_triples(all_triples).write.mode("overwrite") \
        .parquet(os.path.join(args.out, "canonical_triples"))
    entities_table(all_triples).write.mode("overwrite") \
        .parquet(os.path.join(args.out, "entities"))
    docs = spark.read.parquet(os.path.join(args.out, "documents"))
    deps_table(all_triples, docs, cfg).write.mode("overwrite") \
        .parquet(os.path.join(args.out, "deps"))

    new_entries = entries_from_extracted(extracted, todo, "parse", run_id)
    new_entries.write.mode("append").parquet(entries_path)

    counters = {r["stage"] + "/" + r["status"]: r["n_urls"]
                for r in stage_counters(
                    spark.read.parquet(entries_path)).collect()}
    processed = todo.count()
    print(json.dumps({
        "run_id": run_id,
        "processed": processed,
        "skipped_fresh": pages.count() - processed,
        "triples": all_triples.count(),
        "counters": counters,
    }))


if __name__ == "__main__":
    main()
