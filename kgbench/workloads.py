"""The workloads and the harness they share.

One process, one Spark session on ``local[4]`` with 8 shuffle
partitions, one closed-loop client. Every op is followed, untimed, by
``spark.catalog.clearCache()`` so each op starts from the state a fresh
spark-submit would see. See DESIGN.md for why each workload exists and
what each metric is expected to move.
"""

from __future__ import annotations

import contextlib
import hashlib
import importlib.util
import io
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

from kgbench import reference
from kgbench.corpus import Corpus

N_DOCS = 1000
CORES = 4
SHUFFLE_PARTITIONS = 8
# Warm-up before the first timed build: cold builds of a small slice of
# the corpus. A process's first op runs 1.6-1.8x slow and its next ones
# are still high; two small builds bring the first full-size op to the
# settled time at about the cost of one full-size build.
WARMUP_BUILDS = 2
WARMUP_DOCS = 64
WARMUP_ROUNDS = 1        # untimed query-mix rounds after the lake build


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Bench:
    """Per-process state: session, paths, samples and the run record."""

    def __init__(self, root: str, run_dir: str, args, t_start: float):
        self.root, self.dir, self.t_start = root, run_dir, t_start
        self.seed, self.seconds, self.traced = args.seed, args.seconds, \
            bool(args.trace)
        self.samples: list[dict] = []
        self.warmups: list[dict] = []
        self.failed = 0
        self.setup_s = None
        self.spark = self._start_spark()
        spec = importlib.util.spec_from_file_location(
            "run_pipeline", os.path.join(root, "scripts", "run_pipeline.py"))
        self.run_pipeline = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.run_pipeline)
        self.tracer = None
        if self.traced:
            from kgbench.trace import Tracer
            self.tracer = Tracer(self.spark.sparkContext)
            self.tracer.install()

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def _start_spark(self):
        from ferenda_spark.session import get_spark
        conf = {
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
        }
        if self.traced:
            os.makedirs(self.path("eventlog"))
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": "file://" + self.path("eventlog"),
            })
        spark = get_spark("kgbench", master="local[%d]" % CORES,
                          shuffle_partitions=SHUFFLE_PARTITIONS,
                          extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def pipeline(self, pages: str, out: str, run_id: str) -> dict:
        """``run_pipeline.main()`` in-process; returns its printed JSON."""
        argv, sys.argv = sys.argv, ["run_pipeline.py", "--pages", pages,
                                    "--out", out, "--run-id", run_id]
        buf = io.StringIO()
        try:
            with contextlib.redirect_stdout(buf):
                self.run_pipeline.main()
        finally:
            sys.argv = argv
        self.spark.sparkContext.setLogLevel("ERROR")
        return json.loads(buf.getvalue().strip().splitlines()[-1])

    def op(self, op_id: str, fn, timed: bool = True):
        """Run one op; returns (ok, value, wall_ms)."""
        if self.tracer:
            self.tracer.begin_op(op_id)
        start = time.perf_counter()
        try:
            value, ok = fn(), True
        except Exception:  # an op that raises is counted, not fatal
            traceback.print_exc()
            value, ok = None, False
        wall_ms = (time.perf_counter() - start) * 1000.0
        if self.tracer:
            self.tracer.end_op()
        self.spark.catalog.clearCache()
        sample = {"op": op_id, "wall_ms": wall_ms, "ok": ok}
        if timed:
            self.samples.append(sample)
            self.failed += not ok
        else:
            self.warmups.append(sample)
        return ok, value, wall_ms

    def setup_done(self) -> None:
        self.setup_s = time.perf_counter() - self.t_start

    def timed_ops(self):
        """Op ids for the measured window: ops start until ``seconds``
        have passed, and at least one runs."""
        start, k = time.perf_counter(), 0
        while k == 0 or time.perf_counter() - start < self.seconds:
            yield "t%d" % k
            k += 1

    def event_fold(self):
        from kgbench.eventlog import fold_file
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        logs = [f for f in os.listdir(self.path("eventlog"))
                if not f.endswith(".inprogress")] or \
            os.listdir(self.path("eventlog"))
        return fold_file(self.path("eventlog", logs[0]))

    def close(self) -> None:
        """Stop Spark and its JVM and wait for them."""
        from pyspark import SparkContext
        if self.tracer:
            self.tracer.uninstall()
        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


# ------------------------------------------------------------- builds

def _layers_build(b: Bench, fold, op: str, docs_selected: int,
                  changed_rows: int) -> dict:
    lake = fold.layer(op, "lake.")
    py = fold.layer(op)
    counters = fold.layer(op, "lineage.stage_counters")
    relate = {k: fold.layer(op, "relate." + k) for k in
              ("canonicalize_triples", "entities_table", "deps_table")}
    return {
        "extract.python_passes": fold.python_passes(op),
        "extract.python_s": py["python_ms"] / 1000.0,
        "extract.bytes_to_python": py["bytes_to_python"],
        "extract.bytes_from_python": py["bytes_from_python"],
        "extract.useful_ratio": (docs_selected / py["python_rows"]
                                 if py["python_rows"] else 0.0),
        "lineage.docs_selected": docs_selected,
        "lineage.counters_s": counters["job_ms"] / 1000.0,
        "lineage.counters_jobs": counters["jobs"],
        "lake.merge_s": b.tracer.span_ms(op, "lake.merge_triples") / 1000.0,
        "lake.files_written": lake["files_written"],
        "lake.bytes_written": lake["bytes_written"],
        "lake.write_amplification": (lake["records_written"] / changed_rows
                                     if changed_rows else 0.0),
        "relate.canonicalize_s":
            relate["canonicalize_triples"]["job_ms"] / 1000.0,
        "relate.entities_s": relate["entities_table"]["job_ms"] / 1000.0,
        "relate.deps_s": relate["deps_table"]["job_ms"] / 1000.0,
        "relate.jobs": sum(c["jobs"] for c in relate.values()),
        "relate.shuffle_bytes": sum(c["shuffle_write_bytes"]
                                    for c in relate.values()),
    }


def _build(b: Bench, incremental: bool) -> dict:
    corpus = Corpus(N_DOCS, b.seed)
    os.makedirs(b.path("ref"))
    pages = b.path("pages.parquet")
    corpus.write(pages)
    base = b.path("base")
    if incremental:
        snapshot = b.path("pages-recrawl.parquet")
        corpus.write(snapshot, changed=True)
        # the base lake is the first (warm-up) cold build
        b.op("w0", lambda: b.pipeline(pages, base, "base"), timed=False)
        docs = len(corpus.changed_urls)
    else:
        snapshot = pages
        warm = b.path("pages-warmup.parquet")
        corpus.write(warm, limit=WARMUP_DOCS)
        for k in range(WARMUP_BUILDS):
            b.op("w%d" % k, lambda: b.pipeline(warm, b.path("w%d" % k),
                                               "w%d" % k), timed=False)
        docs = N_DOCS
    b.setup_done()

    runs = []
    for op in b.timed_ops():
        out = b.path(op)
        if incremental:
            shutil.copytree(base, out)  # untimed: a fresh copy of the base
        ok, counters, _ = b.op(op, lambda: b.pipeline(snapshot, out, op))
        if ok:
            runs.append((out, counters["processed"]))

    # ---- checks, outside the timed region and after setup_s
    rows = corpus.changed_rows if incremental else corpus.rows
    expected = reference.expected_build(N_DOCS, rows, b.path("ref"))
    wrong = set()
    for i, (out, processed) in enumerate(runs):
        own = None
        if not incremental:  # relate oracles over the run's own tables
            own = b.path("ref", "own%d" % i)
            os.makedirs(own)
        wrong.update(reference.check_build(out, expected, processed, docs,
                                           own_relate_input=own))
    walls = [s["wall_ms"] for s in b.samples if s["ok"]]
    op_p50 = median(walls)
    result = {
        "wrong": sorted(wrong),
        "docs_per_op": docs,
        "metrics": {
            "setup_s": (b.setup_s, "s"),
            "op_p50_ms": (op_p50, "ms"),
            "docs_per_s": (docs / (op_p50 / 1000.0) if op_p50 else 0.0,
                           "docs/s"),
            "query_geomean_ms": (op_p50, "ms"),
        },
    }
    if b.traced:
        from ferenda_spark.operators.lineage import needed
        prev = (b.spark.read.parquet(os.path.join(base, "entries"))
                if incremental else None)
        selected = needed(b.spark.read.parquet(snapshot), prev).count()
        tab = expected["triples"]
        changed_rows = (int(tab["source_url"].isin(corpus.changed_urls).sum())
                        if incremental else len(tab))
        fold = b.event_fold()
        per_op = [dict(_layers_build(b, fold, s["op"], selected,
                                     changed_rows),
                       **_layers_spark(fold, s["op"], s["wall_ms"]))
                  for s in b.samples if s["ok"]]
        result["layers"] = {k: median([p[k] for p in per_op])
                            for k in per_op[0]} if per_op else {}
    return result


def build_cold(b: Bench) -> dict:
    return _build(b, incremental=False)


def build_incremental(b: Bench) -> dict:
    return _build(b, incremental=True)


# ---------------------------------------------------------- query mix

def _program_fingerprint(root: str) -> str:
    """Hash of every program source that shapes the lake."""
    h = hashlib.sha256(b"%d" % N_DOCS)
    files = [os.path.join(root, "scripts", "run_pipeline.py"),
             os.path.join(root, "kgbench", "corpus.py")]
    for d, dirs, names in os.walk(os.path.join(root, "ferenda_spark")):
        dirs[:] = sorted(x for x in dirs if x != "__pycache__")
        files += [os.path.join(d, x) for x in sorted(names)
                  if not x.endswith(".pyc")]
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def query_mix(b: Bench) -> dict:
    from kgbench.queries import Lake, mix
    corpus = Corpus(N_DOCS, b.seed)
    os.makedirs(b.path("ref"))
    # The lake is the pipeline's cold build of the corpus in page order.
    # It does not depend on the seed, so the first run in a checkout builds
    # it (in its set-up) and later runs of the same program reuse it.
    lake_dir = os.path.join(os.path.dirname(b.dir), "lake-cache",
                            _program_fingerprint(b.root))
    if not os.path.isdir(lake_dir):
        pages = b.path("pages.parquet")
        corpus.write(pages, shuffled=False)
        b.op("w-build", lambda: b.pipeline(pages, b.path("lake"), "base"),
             timed=False)
        os.makedirs(os.path.dirname(lake_dir), exist_ok=True)
        os.replace(b.path("lake"), lake_dir)
    lake = Lake(b.spark, lake_dir)
    kinds = mix(corpus.describe_uri)

    def round_(op: str, timed: bool) -> dict:
        results, wall = {}, 0.0
        for kind in corpus.rng.sample(sorted(kinds), len(kinds)):
            build = kinds[kind][0]
            ok, rows, ms = b.op("%s/%s" % (op, kind),
                                lambda: build(lake).collect(), timed=timed)
            results[kind] = (ok, rows, ms)
            wall += ms
        return {"op": op, "wall_ms": wall, "results": results}

    for k in range(WARMUP_ROUNDS):
        round_("w%d" % k, timed=False)
    b.setup_done()
    rounds = []
    for op in b.timed_ops():
        rounds.append(round_(op, timed=True))

    # ---- checks
    import pandas as pd
    files = reference.lake_files(lake_dir, b.path("ref"))
    wrong = set()
    for kind, (_, oracle_sql) in kinds.items():
        want = reference.oracle(oracle_sql(files))
        for r in rounds:
            ok, rows, _ = r["results"][kind]
            if ok:
                got = pd.DataFrame([tuple(x) for x in rows],
                                   columns=list(want.columns)
                                   if not rows else list(rows[0].__fields__))
                if not reference.same_rows(got, want):
                    wrong.add(kind)
    per_kind = {k: median([r["results"][k][2] for r in rounds
                           if r["results"][k][0]]) for k in kinds}
    round_p50 = median([r["wall_ms"] for r in rounds])
    timed = [v for v in per_kind.values() if v > 0]  # kinds that ran
    geomean = (math.exp(statistics.fmean(math.log(v) for v in timed))
               if timed else 0.0)
    result = {
        "wrong": sorted(wrong),
        "per_kind_p50_ms": per_kind,
        "metrics": {
            "setup_s": (b.setup_s, "s"),
            "op_p50_ms": (round_p50, "ms"),
            "docs_per_s": (N_DOCS / (round_p50 / 1000.0), "docs/s"),
            "query_geomean_ms": (geomean, "ms"),
        },
    }
    if b.traced:
        fold = b.event_fold()
        per_round = []
        for r in rounds:
            layer = _layers_spark(fold, r["op"], r["wall_ms"])
            # four of the eight queries are SPARQL
            layer["sparql.compile_ms"] = b.tracer.span_ms(
                r["op"], "sparql.compile_spark") / 4.0
            layer["sparql.shuffle_bytes"] = \
                fold.layer(r["op"], "sparql.")["shuffle_write_bytes"]
            per_round.append(layer)
        layers = {k: median([p[k] for p in per_round]) for k in per_round[0]}
        for kind, ms in per_kind.items():
            layers[kind + ".p50_ms"] = ms
        result["layers"] = layers
    return result


def _layers_spark(fold, op: str, wall_ms: float) -> dict:
    c = fold.layer(op)
    return {
        "lake.files_read": (c["files_read"] / c["scans"] if c["scans"]
                            else 0.0),
        "spark.jobs": c["jobs"],
        "spark.tasks": c["tasks"],
        "spark.task_s": c["task_ms"] / 1000.0,
        "spark.gc_s": c["gc_ms"] / 1000.0,
        "spark.shuffle_write_bytes": c["shuffle_write_bytes"],
        "spark.shuffle_read_bytes": c["shuffle_read_bytes"],
        "spark.fetch_wait_s": c["fetch_wait_ms"] / 1000.0,
        "spark.spill_bytes": c["spill_bytes"],
        "spark.driver_s": max(0.0, wall_ms - fold.busy_ms(op)) / 1000.0,
        "spark.cpu_util": c["cpu_ns"] / 1e9 / (wall_ms / 1000.0 * CORES),
    }


WORKLOADS = {
    "build_cold": build_cold,
    "build_incremental": build_incremental,
    "query_mix": query_mix,
}
