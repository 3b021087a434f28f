"""kgbench: one command that drives the KG pipeline's production path and
prints its metrics.

    python3 kgbench/run.py --workload build_cold --seed 1 --seconds 20 --trace 0

Run from the repository root (any cwd works; paths resolve from this
file). The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end metrics
of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. A run record with every sample goes to
``.kgbench/records/``; scratch data under ``.kgbench/`` is removed.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".kgbench")


def _git_commit() -> str | None:
    """HEAD of the checkout, read from .git without running git."""
    git = os.path.join(ROOT, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        if os.path.exists(os.path.join(git, ref)):
            with open(os.path.join(git, ref)) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return None


def _metric_names() -> tuple[list[str], list[str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ([m["name"] for m in spec["end_to_end"]],
            [(m["name"], m["unit"]) for m in spec["per_layer"]])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    help="build_cold, query_mix or build_incremental")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "scripts", "run_pipeline.py"))
            and os.path.isdir(os.path.join(ROOT, "ferenda_spark"))):
        print("kgbench: the program (ferenda_spark/, scripts/run_pipeline.py)"
              " is not in %s" % ROOT, file=sys.stderr)
        return 2

    if not args.workload.isidentifier():  # it names a directory
        ap.error("unknown workload %r" % args.workload)
    run_dir = os.path.join(WORK, "%s-s%d-t%d-%d" % (
        args.workload, args.seed, args.trace, os.getpid()))
    os.makedirs(os.path.join(run_dir, "tmp"))
    # workers import the program by module path; temp files stay inside
    # the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    # every JVM the launcher starts: no hsperfdata file in the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData -Djava.io.tmpdir=" \
        + os.path.join(run_dir, "tmp")
    sys.path.insert(0, ROOT)

    import pyspark

    from kgbench import workloads as W
    if args.workload not in W.WORKLOADS:
        shutil.rmtree(run_dir)
        ap.error("unknown workload %r" % args.workload)

    load_start = os.getloadavg()
    bench = W.Bench(ROOT, run_dir, args, T_START)
    try:
        result = W.WORKLOADS[args.workload](bench)
        java = bench.spark.sparkContext._jvm.System.getProperty(
            "java.version")
    finally:
        bench.close()

    attempted = len(bench.samples)
    error_rate = bench.failed / attempted if attempted else 1.0
    trace_layers = dict(result.get("layers", {}))
    trace_layers.update({
        "check.wrong_outputs": len(result["wrong"]),
        "check.error_rate": error_rate,
    })
    if args.trace:
        trace_layers["trace.op_p50_ms"] = result["metrics"]["op_p50_ms"][0]
    end_to_end, per_layer = _metric_names()
    if args.trace:
        metrics = {name: {"value": trace_layers.get(name, 0), "unit": unit}
                   for name, unit in per_layer}
    else:
        metrics = {name: {"value": result["metrics"][name][0],
                          "unit": result["metrics"][name][1]}
                   for name in end_to_end}
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "n_docs": W.N_DOCS, "cores": W.CORES, "nproc": os.cpu_count(),
        "shuffle_partitions": W.SHUFFLE_PARTITIONS,
        "git_commit": _git_commit(), "pyspark": pyspark.__version__,
        "java": java, "python": platform.python_version(),
        "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
        "setup_s": bench.setup_s,
        "warmup_ops": len(bench.warmups), "warmups": bench.warmups,
        "samples": bench.samples,
        "wrong_outputs": result["wrong"],
        "extra": {k: v for k, v in result.items()
                  if k not in ("metrics", "layers", "wrong")},
        "metrics": {k: v[0] for k, v in result["metrics"].items()},
        "layers": trace_layers,
    }
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    rec_path = os.path.join(WORK, "records",
                            os.path.basename(run_dir) + ".json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(run_dir, ignore_errors=True)
    print("kgbench: run record %s" % rec_path, file=sys.stderr)
    print(json.dumps({
        "correct": not result["wrong"] and bench.failed == 0,
        "attempted": attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
