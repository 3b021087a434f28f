"""spark-submit entrypoint: run the KG pipeline end-to-end.

Packaging + launch (the buildserver/buildclient analog —
ref ferenda/manager.py:1100-1291 — replaced by Spark app submission):

    cd /root/repo && zip -r /tmp/ferenda_spark.zip ferenda_spark
    spark-submit --master local[16] \
        --py-files /tmp/ferenda_spark.zip \
        scripts/run_pipeline.py \
        --pages /tmp/pages --out /tmp/kg --n-docs 10000

This script is an argv shim: it provisions the pages table if --n-docs
is given (synthetic generator) or reads it from a WARC blob lake
(--warc), then calls the library entry
:func:`ferenda_spark.pipeline.run`, which selects the new or changed
pages, extracts them once, writes documents/resources/triples, relates
(sameAs canonicalization, entities, deps) and appends per-stage lineage
to <out>/entries. The run's counters are printed as one JSON line, the
last line on stdout.
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
    from ferenda_spark.pipeline import run, warc_pages

    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if args.n_docs and args.pages:
        P.build_pages(spark, args.n_docs, 64) \
            .write.mode("overwrite").parquet(args.pages)
    pages = (warc_pages(spark.read.parquet(args.warc)) if args.warc
             else spark.read.parquet(args.pages))
    print(json.dumps(run(spark, pages, args.out,
                         args.run_id or time.strftime("r%Y%m%d%H%M%S"))))


if __name__ == "__main__":
    main()
