"""SHACL-lite shape validation over the triple table.

The reference validates documents one at a time while parsing (rdflib
graph checks inside parse(); ref ferenda/documentrepository.py parse
stage raises on missing metadata). A KG pipeline wants the batch form:
declare per-class shapes (SHACL's core constraint kinds) and get a
validation REPORT over the whole corpus in one pass — the QA gate
between construction and publication.

Supported constraint kinds (the sh:NodeShape/sh:property core):

- ``min_count`` / ``max_count``  (sh:minCount / sh:maxCount)
- ``node_kind``  ('uri' | 'literal', sh:nodeKind)
- ``datatype``   (exact datatype URI match, sh:datatype)
- ``pattern``    (regex on the value, sh:pattern)
- ``in_list``    (closed value set, sh:in)

Scale shape: shapes are broadcast (a shapes file is KB-sized). Targets
come from one pushed-filter scan of the type triples (predicate =
rdf:type, object IN target classes; the triple files' (predicate,
subject) sort lets row-group statistics skip the other predicates).
Row-level constraints are one broadcast
join + codegen filters over the path-predicate-filtered scan; the only
data-sized shuffles are the subject-keyed target join (the canonical
validation join — type triples are a corpus fraction) and the
per-(focus, shape) count aggregate for min/max, partial-aggregated
map-side. Violations stream out; no per-document loop exists.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..namespaces import RDF_TYPE


@dataclass(frozen=True)
class Shape:
    """One property shape. ``shape_id`` names it in the report."""
    shape_id: str
    target_class: str
    path: str
    min_count: int | None = None
    max_count: int | None = None
    node_kind: str | None = None        # 'uri' | 'literal'
    datatype: str | None = None
    pattern: str | None = None
    in_list: tuple[str, ...] | None = None


def validate_shapes(triples: DataFrame,
                    shapes: list[Shape]) -> DataFrame:
    """→ violation report (focus, shape_id, constraint, value), one row
    per violated constraint occurrence: row-level kinds report the
    offending object value, count kinds report the observed count as a
    string. Conforming data yields zero rows."""
    spark = triples.sparkSession
    classes = sorted({s.target_class for s in shapes})
    paths = sorted({s.path for s in shapes})
    targets = (triples
               .where((F.col("predicate") == RDF_TYPE) &
                      F.col("object").isin(classes))
               .select(F.col("subject").alias("focus"),
                       F.col("object").alias("cls"))
               .distinct())
    values = (triples
              .where(F.col("predicate").isin(paths))
              .select(F.col("subject").alias("focus"),
                      F.col("predicate").alias("path"),
                      "object", "objtype", "datatype"))
    # one subject-keyed join gates values to in-scope focus nodes and
    # stamps the class the shape targeting needs; counts use the
    # SEMI-gated table instead — the class stamp would double-count
    # values of subjects carrying two target classes
    gated = values.join(targets.select("focus").distinct(),
                        "focus", "leftsemi")
    scoped = values.join(targets, "focus")

    shp = spark.createDataFrame(
        [(s.shape_id, s.target_class, s.path, s.min_count, s.max_count,
          s.node_kind, s.datatype, s.pattern,
          list(s.in_list) if s.in_list is not None else None)
         for s in shapes],
        "shape_id string, cls string, path string, min_count int, "
        "max_count int, node_kind string, dt string, pattern string, "
        "in_list array<string>")
    matched = scoped.join(F.broadcast(shp), ["cls", "path"])

    def viol(cond, constraint):
        return (matched.where(cond)
                .select("focus", "shape_id",
                        F.lit(constraint).alias("constraint"),
                        F.col("object").alias("value")))

    row_parts = [
        viol(F.col("node_kind").isNotNull() &
             (F.col("objtype") != F.col("node_kind")), "nodeKind"),
        viol(F.col("dt").isNotNull() &
             (~F.col("datatype").eqNullSafe(F.col("dt"))), "datatype"),
        viol(F.col("pattern").isNotNull() &
             ~F.regexp_like(F.col("object"), F.col("pattern")),
             "pattern"),
        viol(F.col("in_list").isNotNull() &
             ~F.array_contains(F.col("in_list"), F.col("object")),
             "in"),
    ]

    # count constraints: LEFT join from (targets × their class's
    # shapes) so a missing property (count 0) still violates minCount
    focus_shapes = targets.join(
        F.broadcast(shp.where(F.col("min_count").isNotNull() |
                              F.col("max_count").isNotNull())
                    .select("shape_id", "cls", "path",
                            "min_count", "max_count")), "cls")
    counts = (gated.groupBy("focus", "path")
              .agg(F.count(F.lit(1)).alias("n")))
    fc = (focus_shapes.join(counts, ["focus", "path"], "left")
          .withColumn("n", F.coalesce("n", F.lit(0))))
    count_parts = [
        (fc.where(F.col("min_count").isNotNull() &
                  (F.col("n") < F.col("min_count")))
         .select("focus", "shape_id",
                 F.lit("minCount").alias("constraint"),
                 F.col("n").cast("string").alias("value"))),
        (fc.where(F.col("max_count").isNotNull() &
                  (F.col("n") > F.col("max_count")))
         .select("focus", "shape_id",
                 F.lit("maxCount").alias("constraint"),
                 F.col("n").cast("string").alias("value"))),
    ]

    out = row_parts[0]
    for p in row_parts[1:] + count_parts:
        out = out.union(p)
    return out.orderBy("focus", "shape_id", "constraint", "value")


def sql_validate_shapes(table_sql: str, shapes: list[Shape]) -> str:
    """DuckDB twin of :func:`validate_shapes`. Spark's rlike is Java
    regex, DuckDB's regexp_matches is RE2 — keep shape patterns inside
    the common subset (the same contract as the engine's other regex
    twins)."""
    def q(x):
        return "NULL" if x is None else "'%s'" % x.replace("'", "''")

    def qn(x):
        return "NULL" if x is None else str(x)

    rows = ", ".join(
        "(%s, %s, %s, %s, %s, %s, %s, %s, %s)"
        % (q(s.shape_id), q(s.target_class), q(s.path),
           qn(s.min_count), qn(s.max_count), q(s.node_kind),
           q(s.datatype), q(s.pattern),
           "NULL" if s.in_list is None else
           "[%s]" % ", ".join(q(v) for v in s.in_list))
        for s in shapes)
    return f"""
    WITH shp(shape_id, cls, path, min_count, max_count, node_kind,
             dt, pattern, in_list) AS (VALUES {rows}),
    targets AS (
      SELECT DISTINCT subject AS focus, object AS cls FROM {table_sql}
      WHERE predicate = '{RDF_TYPE}'
        AND object IN (SELECT cls FROM shp)
    ),
    scoped AS (
      SELECT t.subject AS focus, targets.cls, t.predicate AS path,
             t.object, t.objtype, t.datatype
      FROM {table_sql} t
      JOIN targets ON targets.focus = t.subject
      WHERE t.predicate IN (SELECT path FROM shp)
    ),
    matched AS (
      SELECT scoped.*, shp.shape_id, shp.node_kind, shp.dt,
             shp.pattern, shp.in_list
      FROM scoped JOIN shp USING (cls, path)
    ),
    counts AS (
      SELECT t.subject AS focus, t.predicate AS path,
             count(*)::BIGINT AS n
      FROM {table_sql} t
      WHERE t.predicate IN (SELECT path FROM shp)
        AND t.subject IN (SELECT focus FROM targets)
      GROUP BY 1, 2
    ),
    fc AS (
      SELECT targets.focus, shp.shape_id, shp.min_count, shp.max_count,
             coalesce(counts.n, 0) AS n
      FROM targets
      JOIN shp ON shp.cls = targets.cls
        AND (shp.min_count IS NOT NULL OR shp.max_count IS NOT NULL)
      LEFT JOIN counts
        ON counts.focus = targets.focus AND counts.path = shp.path
    )
    SELECT focus, shape_id, 'nodeKind' AS "constraint", object AS value
      FROM matched WHERE node_kind IS NOT NULL AND objtype <> node_kind
    UNION ALL
    SELECT focus, shape_id, 'datatype', object FROM matched
      WHERE dt IS NOT NULL AND (datatype IS DISTINCT FROM dt)
    UNION ALL
    SELECT focus, shape_id, 'pattern', object FROM matched
      WHERE pattern IS NOT NULL AND NOT regexp_matches(object, pattern)
    UNION ALL
    SELECT focus, shape_id, 'in', object FROM matched
      WHERE in_list IS NOT NULL AND NOT list_contains(in_list, object)
    UNION ALL
    SELECT focus, shape_id, 'minCount', n::VARCHAR FROM fc
      WHERE min_count IS NOT NULL AND n < min_count
    UNION ALL
    SELECT focus, shape_id, 'maxCount', n::VARCHAR FROM fc
      WHERE max_count IS NOT NULL AND n > max_count
    ORDER BY focus, shape_id, "constraint", value
    """


def completeness_report(triples: DataFrame,
                        round_to: int = 6) -> DataFrame:
    """→ (cls, predicate, n_subjects, n_with, coverage): for every
    (rdf:type class × non-type predicate) combination, how many of
    the class's subjects carry the predicate at least once — the KG
    completeness profile (the "98% of Products have a price, 3% have
    a gtin" table that drives curation priorities). Combinations a
    class never exhibits appear with coverage 0.

    Scale notes: the type table and the (subject, predicate) distinct
    are the only corpus-sized aggregates (uniform subject keys,
    map-side combined); the class×predicate frame is schema-sized, so
    the zero-fill cross join and the final arithmetic are free.
    """
    typed = (triples.where((F.col("predicate") == RDF_TYPE) &
                           (F.col("objtype") == "uri"))
             .select("subject", F.col("object").alias("cls"))
             .distinct())
    cls_n = typed.groupBy("cls").agg(F.count(F.lit(1))
                                     .alias("n_subjects"))
    sp = (triples.where(F.col("predicate") != RDF_TYPE)
          .select("subject", "predicate").distinct())
    n_with = (typed.join(sp, "subject")
              .groupBy("cls", "predicate")
              .agg(F.count(F.lit(1)).alias("n_with")))
    all_preds = sp.select("predicate").distinct()
    grid = cls_n.crossJoin(all_preds)
    return (grid.join(n_with, ["cls", "predicate"], "left")
            .select("cls", "predicate", "n_subjects",
                    F.coalesce(F.col("n_with"), F.lit(0))
                    .cast("long").alias("n_with"))
            .withColumn("coverage",
                        F.round(F.col("n_with") /
                                F.col("n_subjects"), round_to)))


def sql_completeness_report(table_sql: str) -> str:
    """DuckDB twin of :func:`completeness_report`."""
    return f"""
    WITH typed AS (
      SELECT DISTINCT subject, object AS cls FROM {table_sql}
      WHERE predicate = '{RDF_TYPE}' AND objtype = 'uri'),
    cls_n AS (SELECT cls, count(*) AS n_subjects FROM typed GROUP BY cls),
    sp AS (SELECT DISTINCT subject, predicate FROM {table_sql}
           WHERE predicate <> '{RDF_TYPE}'),
    n_with AS (
      SELECT t.cls, s.predicate, count(*) AS n
      FROM typed t JOIN sp s USING (subject)
      GROUP BY t.cls, s.predicate),
    grid AS (
      SELECT c.cls, c.n_subjects, p.predicate
      FROM cls_n c CROSS JOIN (SELECT DISTINCT predicate FROM sp) p)
    SELECT g.cls, g.predicate, g.n_subjects::BIGINT AS n_subjects,
           coalesce(w.n, 0)::BIGINT AS n_with,
           round(coalesce(w.n, 0) / g.n_subjects::DOUBLE, 6) AS coverage
    FROM grid g LEFT JOIN n_with w
      ON w.cls = g.cls AND w.predicate = g.predicate
    ORDER BY g.cls, g.predicate
    """
