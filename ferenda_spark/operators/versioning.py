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

