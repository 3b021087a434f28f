"""Small shared operator utilities."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


_ITER_CKPT_SEQ = [0]


def iter_checkpoint(df: DataFrame, round_no: int,
                    disk_every: int = 3) -> DataFrame:
    """Lineage AND stats control for iterative DataFrame loops.

    Two compounding effects make naive iteration geometric on this
    Spark build (pyspark 4.1.2):

    1. a chain of ``localCheckpoint(eager=True)`` calls stops
       truncating lineage after ~7 rounds (round-1 finding);
    2. worse, both ``localCheckpoint`` and ``checkpoint`` INHERIT the
       child plan's estimated statistics (LogicalRDD originStats), and
       Catalyst's size-in-bytes estimation multiplies child stats at
       every join — a loop whose round joins two frames derived from
       the previous round (HITS, CC self-joins) doubles the BigInt
       digit count of sizeInBytes per round, so by round ~15 planning
       time is dominated by 10^5-digit Toom-Cook multiplications
       inside SizeInBytesOnlyStatsPlanVisitor (observed: a thread
       pinned in BigInteger.multiply for 30+ min).

    The periodic reset is therefore a PARQUET ROUND-TRIP, not a
    ``checkpoint()``: reading back gives a fresh LogicalRelation whose
    stats come from actual file sizes — lineage and stats both truly
    reset, and between resets at most ``disk_every-1`` rounds of
    inherited-stats compounding can accumulate (bounded). This is also
    the production shape: Pregel-style systems materialize iteration
    state to the lake, they don't cache logical plans.
    """
    if round_no % disk_every == disk_every - 1:
        spark = df.sparkSession
        _ITER_CKPT_SEQ[0] += 1
        path = os.path.join(
            tempfile.gettempdir(), "ferenda_spark_iter_%d" % os.getpid(),
            "ckpt_%d" % _ITER_CKPT_SEQ[0])
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)
    return df.localCheckpoint(eager=True)


# edges; the default driver cutoff of every hybrid graph operator
DRIVER_THRESHOLD = 2_000_000


def driver_edges(E: DataFrame, threshold: int):
    """The hybrid graph operators' one driver-or-distributed gate: →
    ``E`` as a pandas frame when it has at most ``threshold`` rows (the
    driver branch solves over it), else ``None`` (the distributed
    branch). One Arrow job both decides and fetches: a limit-count and
    then a Row collect ran the scan and the distinct shuffle twice, the
    largest fixed term in the canonicalize stage (BENCH.md). Above the
    cutoff at most ``threshold + 1`` rows reach the driver."""
    head = E.limit(threshold + 1).toPandas()
    return head if len(head) <= threshold else None


def local_frame(spark, rows: list[tuple], schema: StructType) -> DataFrame:
    """``rows`` as a Spark frame through Arrow: a LocalRelation, which
    no job reads and no Python worker serves. ``createDataFrame`` of a
    list (or of an empty pandas frame) builds a Python RDD instead, and
    every job over it starts Python workers."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    return spark.createDataFrame(
        pa.Table.from_arrays([pa.array(c, f.type)
                              for c, f in zip(cols, arrow)], schema=arrow),
        schema)


def salted_agg(df: DataFrame, key_cols: list[str], aggs: dict,
               salt: int = 16) -> DataFrame:
    """Two-stage aggregation with an explicit salt on the group key —
    the classic hot-key defuse when one key (e.g. the corpus's hot
    host) dominates: stage 1 partially aggregates (key, salt) so the
    hot key's rows spread over ``salt`` reducers, stage 2 combines the
    partials per key.

    ``aggs``: {out_col: (in_col, "sum"|"count"|"min"|"max")}. Spark's
    own map-side partial aggregation covers this for built-in aggs —
    salted_agg exists for the cases it cannot: high-cardinality
    intermediate state (e.g. collect-style aggregation downstream) or
    explicit control when AQE skew handling is unavailable. Counts and
    sums compose exactly (sum of partials); min/max likewise.
    """
    from pyspark.sql import functions as F
    salted = df.withColumn("_salt", F.pmod(F.spark_partition_id() +
                                           F.monotonically_increasing_id(),
                                           F.lit(salt)))
    stage1_aggs = []
    for out, (col, fn) in aggs.items():
        if fn == "count":
            stage1_aggs.append(F.count(F.lit(1)).alias("_p_" + out))
        else:
            stage1_aggs.append(getattr(F, fn)(col).alias("_p_" + out))
    partial = salted.groupBy(*key_cols, "_salt").agg(*stage1_aggs)
    stage2_aggs = []
    for out, (_col, fn) in aggs.items():
        combine = "sum" if fn in ("count", "sum") else fn
        stage2_aggs.append(getattr(F, combine)("_p_" + out).alias(out))
    return partial.groupBy(*key_cols).agg(*stage2_aggs)


def ensure_parallelism(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Repartition iff the input has fewer partitions than the session's
    default parallelism.

    Compute-super-linear operators (Arrow UDF stages, cross joins,
    signature stages) inherit the scan's partitioning; a small parquet
    table arrives as one file → one task → zero parallelism no matter
    how many cores exist. The round-robin shuffle of a few thousand
    rows is noise next to the per-row compute it unlocks. At real scale
    the scan already has ≥ cores partitions and this is a no-op.
    """
    if df.isStreaming:
        # partition count is per-micro-batch for streams (and .rdd is
        # illegal on them); maxFilesPerTrigger governs parallelism there
        return df
    target = min_parts or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
