"""Benchmark driver: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

The timed set is every bench-flagged entry of
``__spark_entry__.registry()`` — the same oracled build fns the driver
checks, run at the bench corpus size ``kg_n`` (scaled with sf) — plus
five bench-only entries that time the extraction stage itself:
kg_extract, kg_extract_materialized, kg_full_pipeline, kg_materialize
and kg_xhtml.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


def bench_entries(tmp: str, persisted: list) -> dict:
    """name -> fn(spark, sf_dir, n), in timing order. ``tmp`` holds the
    pages parquet landed untimed by the warm-up and kg_materialize's
    output tables; ``persisted`` collects DataFrames an entry cached,
    for the caller to unpersist after that entry."""
    import __spark_entry__ as E
    from ferenda_spark.operators.extract import (documents_table,
                                                 extract_stage,
                                                 resources_table,
                                                 triples_table)
    from ferenda_spark.operators.relate import canonicalize_triples
    from ferenda_spark.operators.render import render_xhtml_stage
    from ferenda_spark.pages import COMMONDATA, build_pages

    def extracted(spark, n):
        parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        return extract_stage(build_pages(spark, n, parts), E._kg_cfg(),
                             COMMONDATA)

    def kg_extract(spark, _, n):
        # the timed region includes synthetic page GENERATION (one
        # fused mapInPandas pipeline); kg_extract_materialized is the
        # generation-free number
        return extracted(spark, n)

    def kg_extract_materialized(spark, _, n):
        # scan→extract only over the pages parquet landed untimed: the
        # honest docs/sec for the throughput metric
        return extract_stage(spark.read.parquet(tmp + "/pages"),
                             E._kg_cfg(), COMMONDATA)

    def kg_full_pipeline(spark, _, n):
        # persist: extraction fans out into CC derivation + both
        # canonicalization joins (≙ inter-stage table materialization)
        t = triples_table(extracted(spark, n), "kg")
        persisted.append(t.persist())
        return canonicalize_triples(t)

    def kg_materialize(spark, _, n):
        # persist: three table writes fan out of ONE extraction pass —
        # without it each .write re-runs the Arrow parse stage (3×)
        ex = extracted(spark, n).persist()
        for name, table in (("triples", triples_table(ex, "kg")),
                            ("documents", documents_table(ex)),
                            ("resources", resources_table(ex))):
            table.write.mode("overwrite").parquet(tmp + "/" + name)
        ex.unpersist()
        return spark.read.parquet(tmp + "/triples")

    def kg_xhtml(spark, _, n):
        # the generate-stage sink: extract + serialize every document
        # to XHTML 1.1 + RDFa, timed end to end
        return render_xhtml_stage(extracted(spark, n))

    entries = {"kg_extract": kg_extract,
               "kg_extract_materialized": kg_extract_materialized,
               "kg_full_pipeline": kg_full_pipeline,
               "kg_materialize": kg_materialize,
               "kg_xhtml": kg_xhtml}
    entries.update((q.name, q.build) for q in E.registry() if q.bench)
    return entries


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/"))
                   .replace("sf", "") or 0.1)
    except ValueError:          # non-sf<N> dir name → just label it
        sf = 0.1
    kg_n = int(os.environ.get("SPARK_GRAFT_KG_N", max(int(sf * 20000), 200)))

    # self-defending measurement (VERDICT r3 #2): refuse to start while
    # the host is already loaded — BENCH_r03.json was recorded under a
    # competing 32-thread JVM (loadavg 6.3→9.5) and read 1.5-3.6×
    # slower than the clean runs. Retry a few one-minute decay periods;
    # if the host never calms down, run anyway but stamp the record as
    # contaminated so no one compares it round-over-round.
    load_gate = float(os.environ.get("SPARK_GRAFT_LOAD_GATE", "2.0"))
    load_retries = int(os.environ.get("SPARK_GRAFT_LOAD_RETRIES", "3"))
    gate_waited = 0.0
    for attempt in range(load_retries + 1):
        start_load = os.getloadavg()[0]
        if start_load <= load_gate or attempt == load_retries:
            break
        time.sleep(60)
        gate_waited += 60
    contaminated = start_load > load_gate

    import __spark_entry__ as E
    from ferenda_spark.pages import build_pages
    from ferenda_spark.session import get_spark
    spark = get_spark("bench", master="local[%s]" % cpus,
                      shuffle_partitions=int(cpus) * 2)
    spark.sparkContext.setLogLevel("ERROR")
    kg_tmp = tempfile.mkdtemp(prefix="bench_kg_")
    persisted: list = []
    entries = bench_entries(kg_tmp, persisted)

    # untimed warm-up: fork the python-worker daemon pool and JIT the
    # codegen paths once, so one-time process spin-up (~10-20 s
    # measured on this host) doesn't land on whichever query happens
    # to run first; recorded as warmup_s for disclosure
    t0 = time.perf_counter()
    from pyspark.sql.functions import col, pandas_udf

    @pandas_udf("double")
    def _warm(v):
        return v * 1.0
    (spark.range(0, int(cpus) * 4, 1, int(cpus))
     .select(_warm(col("id").cast("double"))).count())
    # untimed prep: land the pages table for kg_extract_materialized
    # (the Iceberg input analog), and the materialized extraction the
    # registry's kg queries read at n = kg_n (pure Python; disk-cached)
    build_pages(spark, kg_n, int(cpus) * 2).write.mode("overwrite") \
        .parquet(kg_tmp + "/pages")
    E._kg_paths(kg_n)
    warmup_s = round(time.perf_counter() - t0, 3)

    load_before = round(os.getloadavg()[0], 2)
    timings: dict[str, float] = {}
    rows: dict[str, int] = {}
    spreads: dict[str, list[float]] = {}
    # heavy-tail variance control (VERDICT r4 #7): a first reading
    # above repeat_above seconds triggers two more runs; the recorded
    # time is the MEDIAN and all readings are disclosed in "spread".
    # (Repeats run warm — shared scans are page-cache/JIT hot — so the
    # median measures the plan, not JVM/GC arrival order, which is
    # exactly what round-over-round comparison needs. kg_materialize
    # is exempt: re-running overwrites its staged tables mid-flight.)
    repeat_above = float(os.environ.get("SPARK_GRAFT_REPEAT_ABOVE", "3.0"))

    def timed(fn) -> tuple[float, int]:
        t0 = time.perf_counter()
        n_rows = fn(spark, sf_dir, kg_n).count()
        secs = round(time.perf_counter() - t0, 3)
        # release caches owned by the finished query so they don't
        # squat executor storage memory under later queries
        while persisted:
            persisted.pop().unpersist()
        return secs, n_rows

    for name, fn in entries.items():
        first, rows[name] = timed(fn)
        if first > repeat_above and name != "kg_materialize":
            reads = [first] + [timed(fn)[0] for _ in range(2)]
            spreads[name] = reads
            timings[name] = sorted(reads)[1]
        else:
            timings[name] = first

    shutil.rmtree(kg_tmp, ignore_errors=True)
    total = round(sum(timings.values()), 3)
    kg_secs = timings["kg_extract"]
    kg_mat_secs = timings["kg_extract_materialized"]
    print(json.dumps({
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "kg_docs": kg_n,
        "kg_docs_per_sec": round(kg_n / kg_secs, 1) if kg_secs else None,
        # generation-free extraction throughput (north-rule docs/sec)
        "kg_docs_per_sec_materialized":
            round(kg_n / kg_mat_secs, 1) if kg_mat_secs else None,
        "rows": rows,
        # all readings for median-of-3 queries (first reading > 3 s):
        # disclosed so the warm/cold variance band is auditable
        "spread": spreads,
        "warmup_s": warmup_s,
        "cpus": int(cpus),
        # host 1-min loadavg at start/end — this box is shared, and
        # runs overlapping other 32-thread JVMs measure 1.5-2x slower
        # (see BENCH.md); a load figure ≫ cpus flags such a run
        "loadavg_1m": [load_before, round(os.getloadavg()[0], 2)],
        # pre-JVM load gate: waited gate_waited_s in 60 s steps until
        # loadavg_at_gate <= threshold (or retries ran out →
        # load_contaminated: true — do not compare that run)
        "load_gate": {"threshold": load_gate,
                      "loadavg_at_gate": round(start_load, 2),
                      "waited_s": gate_waited,
                      "load_contaminated": contaminated},
    }))


if __name__ == "__main__":
    main()
