"""The distributed branches of the iterative operators are the
load-bearing path at 100× (the driver-side hybrid cutoff will be
exceeded) — verify they are trustworthy: correct results with the
round cap, and flat per-round cost over many rounds (the round-1
finding was geometric blowup after ~7 localCheckpoint rounds)."""

import time

from pyspark.sql import functions as F


def _ring_edges(spark, n=40, extra_hub=True):
    """Directed ring + hub spokes + a few dangling sinks."""
    rows = [("n%02d" % i, "n%02d" % ((i + 1) % n)) for i in range(n)]
    if extra_hub:
        rows += [("n%02d" % i, "hub") for i in range(0, n, 4)]  # hub: in-deg
        rows += [("hub", "sink")]                               # sink dangles
    return spark.createDataFrame(rows, "src string, dst string")


def test_distributed_pagerank_matches_driver_ranking(spark):
    from ferenda_spark.operators.graphops import pagerank
    edges = _ring_edges(spark)
    drv = pagerank(edges, driver_threshold=2_000_000).toPandas()
    dist = pagerank(edges, driver_threshold=0).toPandas()
    assert set(drv["node"]) == set(dist["node"])
    # both branches run the same max_iter rounds (so either one agrees
    # with the unrolled 15-iteration oracle); values match to float
    # summation-order noise
    assert list(drv["node"][:2]) == list(dist["node"][:2])
    d = drv.set_index("node")["rank"]
    x = dist.set_index("node")["rank"]
    assert ((d - x).abs() / d).max() < 1e-4, (d - x).abs().max()


def test_distributed_pagerank_no_per_round_collect(spark):
    """The dangling mass is folded into the plan; ranks sum to ~n
    (mass conservation including redistributed dangling mass)."""
    from ferenda_spark.operators.graphops import pagerank
    edges = _ring_edges(spark, n=20)
    dist = pagerank(edges, driver_threshold=0).toPandas()
    n = len(dist)
    assert abs(dist["rank"].sum() - n) / n < 0.05


def test_distributed_hits_matches_driver(spark):
    from ferenda_spark.operators.graphops import hits
    edges = _ring_edges(spark)
    drv = hits(edges, driver_threshold=2_000_000).toPandas()
    dist = hits(edges, driver_threshold=0).toPandas()
    assert set(drv["node"]) == set(dist["node"])
    assert drv["authority"].idxmax() is not None
    top_drv = drv.sort_values("authority", ascending=False)["node"].iloc[0]
    top_dist = dist.sort_values("authority", ascending=False)["node"].iloc[0]
    assert top_drv == top_dist == "hub"


def test_iter_checkpoint_keeps_rounds_flat(spark):
    """12 rounds of a join+agg iteration with iter_checkpoint: late
    rounds must not be geometrically slower than early rounds (the
    pure-localCheckpoint chain measured 4-5×/round growth after ~7)."""
    from ferenda_spark.operators.util import iter_checkpoint
    df = spark.range(0, 2000).select(
        F.col("id").alias("node"), F.lit(1.0).alias("val"))
    base = df.localCheckpoint(eager=True)
    durations = []
    cur = base
    for i in range(12):
        t0 = time.time()
        nxt = (cur.alias("a")
               .join(base.alias("b"), F.col("a.node") == F.col("b.node"))
               .select(F.col("a.node").alias("node"),
                       (F.col("a.val") * 0.99).alias("val")))
        cur = iter_checkpoint(nxt, i)
        cur.count()
        durations.append(time.time() - t0)
    early = sum(durations[1:4]) / 3
    late = sum(durations[-3:]) / 3
    assert late < max(4 * early, early + 2.0), durations


def test_distributed_cc_many_rounds_flat(spark):
    """CC distributed branch on a long path graph (worst case for round
    count): correct components and no geometric round blowup."""
    from ferenda_spark.graph.components import connected_components
    n = 64
    rows = [("p%03d" % i, "p%03d" % (i + 1)) for i in range(n - 1)]
    edges = spark.createDataFrame(rows, "src string, dst string")
    t0 = time.time()
    out = connected_components(edges, driver_threshold=0).toPandas()
    elapsed = time.time() - t0
    assert set(out["component"]) == {"p000"}
    assert len(out) == n
    assert elapsed < 120, elapsed
