"""Cost-model evidence for rdfs_materialize_delta (incremental RDFS
maintenance): at two corpus sizes, compare

  full_s   — full rdfs_materialize over the corpus (what a
             no-incremental pipeline re-runs per ingest batch), timed
             to action (count of the entailed output);
  delta_s  — rdfs_materialize_delta over a FIXED 30k-triple batch
             against the MATERIALIZED entailed table (written untimed,
             partitioned by predicate like the production layout),
             timed to action (count of the new rows).

The claim under test: delta cost is bounded by a predicate-pruned
shuffle-free scan of E plus Δ-sized broadcast joins — so it grows far
slower than corpus size, while full rematerialization grows linearly.
Output: one JSON line {"metric": "rdfs_delta_cost", ...} consumed by
BENCH.md's incremental-maintenance paragraph.

Usage: python scripts/bench_rdfs_delta.py [N_DOCS_LOW] [N_DOCS_HIGH]
(defaults 1_000_000 / 4_000_000 docs; 3 triples per doc).
"""
import json
import shutil
import sys
import tempfile
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, ".")

from ferenda_spark.namespaces import NS, RDF_TYPE  # noqa: E402
from ferenda_spark.operators.inference import (  # noqa: E402
    CORPUS_ONTOLOGY, rdfs_materialize, rdfs_materialize_delta)

DCT = NS["dcterms"]
TRIPLE_SCHEMA = ("subject string, predicate string, object string, "
                 "objtype string")


def synth_triples(spark, n_docs, offset=0):
    """3 codegen triples per doc: a type (alternating down the corpus
    subclass chain), a references edge (fires rdfs7 + folded rdfs2),
    and a literal title (inert) — all generated JVM-side."""
    base = spark.range(offset, offset + n_docs)
    doc = F.concat(F.lit("http://example.org/d/"), F.col("id"))
    other = F.concat(F.lit("http://example.org/d/"),
                     (F.col("id") * 7919) % F.lit(max(n_docs, 1))
                     + F.lit(offset))
    cls = F.when(F.col("id") % 3 == 0, F.lit(NS["rfc"] + "RFC")) \
        .otherwise(F.lit(NS["bibo"] + "DocumentPart"))
    rows = [
        base.select(doc.alias("subject"),
                    F.lit(RDF_TYPE).alias("predicate"),
                    cls.alias("object"), F.lit("uri").alias("objtype")),
        base.select(doc.alias("subject"),
                    F.lit(DCT + "references").alias("predicate"),
                    other.alias("object"), F.lit("uri").alias("objtype")),
        base.select(doc.alias("subject"),
                    F.lit(DCT + "title").alias("predicate"),
                    F.concat(F.lit("Title "), F.col("id")).alias("object"),
                    F.lit("literal").alias("objtype")),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.union(r)
    return out


def main():
    n_low = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    n_high = int(sys.argv[2]) if len(sys.argv) > 2 else 4_000_000
    delta_docs = 10_000
    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.driver.memory", "24g")
             .config("spark.sql.adaptive.enabled", "true")
             .appName("bench_rdfs_delta").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="rdfs_delta_bench_")
    result = {"metric": "rdfs_delta_cost", "unit": "sec",
              "delta_docs": delta_docs, "levels": []}
    try:
        # untimed warmup: JIT + codegen + shuffle machinery, so the
        # first timed leg isn't JVM-cold (the 30k/120k smoke run read
        # "full got faster at 4x data" purely from warmup skew)
        wdir = tmp + "/warm"
        synth_triples(spark, 50_000).write.mode("overwrite").parquet(wdir)
        rdfs_materialize(spark.read.parquet(wdir),
                         CORPUS_ONTOLOGY).count()
        for n in (n_low, n_high):
            tdir = "%s/t_%d" % (tmp, n)
            edir = "%s/e_%d" % (tmp, n)
            synth_triples(spark, n).write.mode("overwrite").parquet(tdir)
            triples = spark.read.parquet(tdir)

            # min of two repeats per timed leg: single-shot numbers on
            # this shared box varied ~2x run-to-run (8.95 vs 16.24 s on
            # identical input); the min is the uncontended cost
            full_s, full_rows = None, 0
            for _ in range(2):
                t0 = time.monotonic()
                full_rows = rdfs_materialize(triples,
                                             CORPUS_ONTOLOGY).count()
                full_s = min(full_s or 9e9, time.monotonic() - t0)

            # materialize E as a predicate-partitioned parquet table
            # (untimed — in production E already sits in the lake; the
            # delta job starts from a table scan whose predicate
            # filters prune)
            (rdfs_materialize(triples, CORPUS_ONTOLOGY)
             .write.mode("overwrite").partitionBy("predicate")
             .parquet(edir))
            e_read = spark.read.parquet(edir)
            delta = synth_triples(spark, delta_docs, offset=n + 1)

            delta_s, new_rows = None, 0
            for _ in range(2):
                t0 = time.monotonic()
                new_rows = rdfs_materialize_delta(
                    e_read, delta, CORPUS_ONTOLOGY).count()
                delta_s = min(delta_s or 9e9, time.monotonic() - t0)
            result["levels"].append({
                "docs": n, "data_triples": 3 * n,
                "entailed_rows": full_rows, "full_s": round(full_s, 2),
                "delta_new_rows": new_rows, "delta_s": round(delta_s, 2),
                "speedup_vs_full": round(full_s / delta_s, 1)})
        lo, hi = result["levels"]
        result["corpus_growth"] = round(hi["docs"] / lo["docs"], 2)
        result["full_growth"] = round(hi["full_s"] / lo["full_s"], 2)
        result["delta_growth"] = round(hi["delta_s"] / lo["delta_s"], 2)
        print(json.dumps(result))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
