"""Document version archiving — the DocumentStore archive analog.

The reference archives the previous version of a document (downloaded/
parsed/distilled artifacts) under a version id whenever new content
lands, and lists versions per basefile (ref ferenda/documentstore.py
archive()/list_versions; version ids from DocumentEntry). The lake
analog is slowly-changing-dimension bookkeeping over content hashes:

- :func:`archive_versions` — merge an incoming snapshot into a current
  table: unchanged rows (same key + content hash) pass through,
  changed rows bump the version and move the prior row to the archive,
  new keys start at version 1.
- :func:`version_history` — flatten (current ∪ archive) into the
  per-key version list (list_versions analog).

All joins key on the document url — uniform keys, and the incoming
side is the delta (bounded by the crawl batch, not the corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def archive_versions(current: DataFrame | None, incoming: DataFrame,
                     key: str = "url", hash_col: str = "content_hash"
                     ) -> tuple[DataFrame, DataFrame]:
    """→ (new_current, archived_rows).

    ``current`` carries (key, hash_col, version, …payload); ``incoming``
    carries (key, hash_col, …payload). ``None`` current = first load
    (everything version 1, empty archive).
    """
    inc = incoming
    if current is None:
        first = inc.withColumn("version", F.lit(1))
        return first, first.limit(0)
    cur = current
    joined = (inc.alias("i")
              .join(cur.select(F.col(key), F.col(hash_col).alias("_cur_hash"),
                               F.col("version").alias("_cur_version"))
                    .alias("c"), key, "left"))
    new_current = joined.select(
        "i.*",
        F.when(F.col("_cur_version").isNull(), F.lit(1))
         .when(F.col("_cur_hash") == F.col("i." + hash_col),
               F.col("_cur_version"))
         .otherwise(F.col("_cur_version") + 1).alias("version"))
    changed_keys = (joined
                    .where(F.col("_cur_hash").isNotNull() &
                           (F.col("_cur_hash") != F.col("i." + hash_col)))
                    .select(key))
    archived = cur.join(changed_keys, key, "left_semi")
    # keys absent from the incoming snapshot keep their current row
    kept = cur.join(inc.select(key), key, "left_anti")
    return new_current.unionByName(kept), archived


def version_history(current: DataFrame, archive: DataFrame,
                    key: str = "url") -> DataFrame:
    """→ (key, version, content_hash, is_current) ordered history —
    the list_versions analog."""
    cur = current.select(key, "version", "content_hash",
                         F.lit(True).alias("is_current"))
    arch = archive.select(key, "version", "content_hash",
                          F.lit(False).alias("is_current"))
    return cur.unionByName(arch).orderBy(key, "version")


def triple_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Snapshot-to-snapshot KG delta: which (source_url, subject,
    predicate, object) rows a new crawl added and which it removed —
    the triple-level analog of the reference's archive diff (the
    reference re-parses a changed download and replaces the doc's
    whole graph; the lake form surfaces the per-triple change set, the
    exact input a downstream incremental maintainer — e.g.
    rdfs_materialize_delta, relate_dependencies' stale set — needs).

    → (change 'added'|'removed', source_url, subject, predicate,
    object), set semantics (duplicates within a snapshot collapse).

    Scale notes: two anti-joins on the SAME composite key, whose
    leading column source_url is the triple table's bucket key; the
    delta is crawl-batch-sized, never corpus-sized, and AQE skew-split
    covers pathological urls. Nothing collects to the driver.
    """
    cols = ["source_url", "subject", "predicate", "object"]
    a = old.select(*cols).distinct()
    b = new.select(*cols).distinct()
    added = b.join(a, cols, "left_anti") \
             .select(F.lit("added").alias("change"), *cols)
    removed = a.join(b, cols, "left_anti") \
               .select(F.lit("removed").alias("change"), *cols)
    return added.unionByName(removed) \
                .orderBy("change", *cols)


FAR_FUTURE = "9999-12-31"

_TRIPLE_KEY = ("source_url", "subject", "predicate", "object")


def temporal_intervals(snapshots: DataFrame,
                       crawl_col: str = "crawl_ts",
                       key_cols=_TRIPLE_KEY) -> DataFrame:
    """Crawl snapshots → temporal triple table: rows tagged with the
    crawl they appeared in become (key…, valid_from, valid_to) maximal
    presence intervals (valid_to exclusive; :data:`FAR_FUTURE` = still
    present in the newest crawl). A triple dropped by one crawl and
    re-added by a later one gets two intervals — the gaps-and-islands
    reconstruction over the crawl sequence, the lake analog of the
    reference's per-document version archive
    (ferenda/documentstore.py archive()/list_versions) applied at
    triple grain.

    Scale notes: the crawl list itself is tiny (one row per crawl) and
    is the only thing that ever reaches the driver; it joins back as a
    broadcast. The corpus-sized work is one distinct + one window +
    one aggregation, all keyed on the uniform composite triple key —
    a single exchange reused by the window sort and the island
    grouping. Timestamps are ISO strings, so lexicographic window
    order is chronological.
    """
    from pyspark.sql import Window
    spark = snapshots.sparkSession
    key = list(key_cols)
    crawls = sorted(r[0] for r in
                    snapshots.select(crawl_col).distinct().collect())
    idx_rows = [(ts, i + 1,
                 crawls[i + 1] if i + 1 < len(crawls) else FAR_FUTURE)
                for i, ts in enumerate(crawls)]
    idx = spark.createDataFrame(
        idx_rows, "%s string, idx long, next_ts string" % crawl_col)
    t = (snapshots.select(*key, crawl_col).distinct()
         .join(F.broadcast(idx), crawl_col))
    w = Window.partitionBy(*key).orderBy("idx")
    isl = t.withColumn(
        "island", F.col("idx") - F.row_number().over(w).cast("long"))
    return (isl.groupBy(*key, "island")
            .agg(F.min(crawl_col).alias("valid_from"),
                 F.max_by("next_ts", "idx").alias("valid_to"))
            .drop("island"))


def triples_asof(intervals: DataFrame, ts: str,
                 key_cols=_TRIPLE_KEY) -> DataFrame:
    """Time travel: the corpus state at ``ts`` — every triple whose
    presence interval covers the instant (valid_from ≤ ts < valid_to).
    Both predicates push to the interval table's parquet scan. By
    construction, as-of any instant within crawl i's currency window
    equals crawl i's snapshot exactly — the kg_asof oracle states that
    identity instead of mirroring the implementation."""
    return (intervals
            .where((F.col("valid_from") <= F.lit(ts)) &
                   (F.col("valid_to") > F.lit(ts)))
            .select(*key_cols))


def asof_join(left: DataFrame, right: DataFrame, on: list[str],
              left_ts: str = "ts", right_ts: str = "ts",
              value_cols: list[str] | None = None) -> DataFrame:
    """Backward as-of join: each left row picks the right row with the
    greatest ``right_ts`` ≤ ``left_ts`` within the same ``on`` key
    (inclusive at equality), NULL values when none precedes — the
    time-series join Spark lacks natively (events ↔ the capture /
    config / price version current at event time).

    Implemented as the union-merge: both sides tagged and unioned,
    one window over (key) ordered by (ts, side) carries the last
    non-null right payload forward (``last(…, ignorenulls)``), left
    rows then keep their carried match. ONE exchange on the key and
    one sort — no range-explode, no per-row lookup; equal to a sorted
    merge per key, which is what a 1000-executor plan wants (the
    DuckDB twin is the engine's native ASOF JOIN, so the semantics are
    pinned to the reference implementation of the concept).
    """
    value_cols = list(value_cols or
                      [c for c in right.columns
                       if c not in on and c != right_ts])
    lrow = F.struct(*[F.col(c) for c in left.columns])
    lside = left.select(
        *[F.col(c) for c in on],
        F.col(left_ts).alias("_ts"), F.lit(1).alias("_side"),
        lrow.alias("_lrow"),
        F.lit(None).cast(
            "struct<" + ", ".join(
                "%s: %s" % (c, right.schema[c].dataType.simpleString())
                for c in value_cols) + ">").alias("_val"))
    rside = right.select(
        *[F.col(c) for c in on],
        F.col(right_ts).alias("_ts"), F.lit(0).alias("_side"),
        F.lit(None).cast(lside.schema["_lrow"].dataType.simpleString())
        .alias("_lrow"),
        F.struct(*[F.col(c) for c in value_cols]).alias("_val"))
    from pyspark.sql import Window
    w = (Window.partitionBy(*on).orderBy("_ts", "_side")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    matched = (lside.unionByName(rside)
               .withColumn("_m", F.last("_val", ignorenulls=True).over(w))
               .where(F.col("_side") == 1))
    return matched.select(
        *[F.col("_lrow.%s" % c).alias(c) for c in left.columns],
        *[F.col("_m.%s" % c).alias(c) for c in value_cols])


def range_join(points: DataFrame, intervals: DataFrame,
               point_ts: str = "ts", start_col: str = "start",
               end_col: str = "end", on: list[str] | None = None,
               grid: int = 3600) -> DataFrame:
    """Point-in-interval range join: each point row joined to every
    interval row (same ``on`` key) with start ≤ ts < end — the other
    time-series join Spark lacks natively (events ↔ validity windows,
    captures ↔ crawl campaigns).

    Implemented as the grid-bucket equi-join: intervals explode into
    the time-grid cells they cover, points key into their single cell,
    the join runs on (key, cell) and the exact inequality filters
    after — so the plan is a hash join on uniform composite keys
    instead of a cross join + filter (or a broadcast nested loop),
    and the fan-out is bounded by interval length / ``grid``. Pick
    ``grid`` near the typical interval length: one cell per interval,
    one candidate bucket per point. Empty intervals (end ≤ start)
    match nothing. Column names of the two sides must not collide
    (beyond ``on``).
    """
    on = list(on or [])
    g = F.lit(grid)
    cell_first = F.floor(F.col(start_col) / g).cast("long")
    cell_last = F.floor((F.col(end_col) - 1) / g).cast("long")
    iv = (intervals.where(F.col(end_col) > F.col(start_col))
          .withColumn("_cell", F.explode(F.sequence(cell_first,
                                                    cell_last))))
    pt = points.withColumn(
        "_cell", F.floor(F.col(point_ts) / g).cast("long"))
    return (pt.join(iv, on + ["_cell"])
            .where((F.col(point_ts) >= F.col(start_col)) &
                   (F.col(point_ts) < F.col(end_col)))
            .drop("_cell"))


def interval_overlap(left: DataFrame, right: DataFrame,
                     on: list[str] | None = None,
                     lstart: str = "start", lend: str = "end",
                     rstart: str = "rstart", rend: str = "rend",
                     grid: int = 3600) -> DataFrame:
    """Interval × interval overlap join: every (left, right) pair on
    the same ``on`` key whose half-open spans intersect
    (lstart < rend AND rstart < lend) — validity windows ↔ crawl
    campaigns, entity-presence intervals ↔ incident windows; the
    third time-series join of the family (asof_join, range_join).

    Grid-bucketed on BOTH sides: each interval explodes into the time
    cells it covers, candidates hash-join on (key, cell), and each
    genuinely overlapping pair is kept exactly ONCE — at the first
    cell the two spans share, cell = max(floor(lstart/g),
    floor(rstart/g)), the standard dedup predicate (every
    overlapping pair shares that cell; no DISTINCT over the fan-out
    needed) — with the exact inequalities filtering false cell-mates.
    Fan-out per row is span/grid like range_join; empty intervals
    (end ≤ start) match nothing. Column names must not collide beyond
    ``on``.
    """
    on = list(on or [])
    g = F.lit(grid)

    def cells(df, s, e):
        first = F.floor(F.col(s) / g).cast("long")
        last = F.floor((F.col(e) - 1) / g).cast("long")
        return (df.where(F.col(e) > F.col(s))
                .withColumn("_cell", F.explode(F.sequence(first, last))))

    lv = cells(left, lstart, lend)
    rv = cells(right, rstart, rend)
    first_shared = F.greatest(
        F.floor(F.col(lstart) / g).cast("long"),
        F.floor(F.col(rstart) / g).cast("long"))
    return (lv.join(rv, on + ["_cell"])
            .where((F.col(lstart) < F.col(rend)) &
                   (F.col(rstart) < F.col(lend)) &
                   (F.col("_cell") == first_shared))
            .drop("_cell"))
