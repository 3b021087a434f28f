"""The relate stage: dependency join, inbound references, canonicalize.

Replaces per-document HTTP probing with set-at-a-time joins:

- :func:`deps_table` ≙ relate_dependencies
  (ref ferenda/documentrepository.py:1946-2008): for every triple whose
  object is a URIRef, predicate ∉ {rdf:type, owl:sameAs}, and object is
  not itself a subject in the same document's graph, resolve the object
  to an owning document (basefile_from_uri) and record
  (target_url, source_url)
- :func:`inbound_references` ≙ the annotations CONSTRUCT's
  ``?part dcterms:isReferencedBy ?s`` arm (ref res/sparql/annotations.rq)
- :func:`canonicalize_triples` rewrites subjects/objects onto sameAs
  component representatives (SURVEY.md §2.6)
- :func:`entities_table` materializes the entity table
- :func:`sameas_mapping` is the sameAs mapping both of them read; a
  run builds it once (as the entity table) and passes it to
  canonicalize
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph.components import canonical_mapping
from ..namespaces import OWL_SAMEAS, RDF_TYPE
from ..uris import RepoConfig


def _basefile_pattern(cfg: RepoConfig) -> str:
    import re as _re
    return "^%sres/%s/([^#]+?)(?:#.*)?$" % (_re.escape(cfg.url),
                                            _re.escape(cfg.alias))


def deps_table(triples: DataFrame, docs: DataFrame,
               cfg: RepoConfig) -> DataFrame:
    """→ (target_url, source_url) distinct.

    docs must carry (url, uri). The exclusion rules follow
    ref documentrepository.py:1957-1976: skip rdf:type/owl:sameAs
    predicates, skip objects that are subjects in the same doc's graph,
    skip self-references.
    """
    pattern = _basefile_pattern(cfg)
    refs = (triples
            .where((F.col("objtype") == "uri") &
                   ~F.col("predicate").isin(RDF_TYPE, OWL_SAMEAS)))
    own_subjects = triples.select("source_url",
                                  F.col("subject").alias("object")).distinct()
    refs = refs.join(own_subjects, ["source_url", "object"], "left_anti")
    refs = (refs
            .withColumn("target_basefile",
                        F.regexp_extract("object", pattern, 1))
            .where(F.col("target_basefile") != ""))
    doc_ids = docs.select(
        F.col("url").alias("target_url"),
        F.regexp_extract("uri", pattern, 1).alias("target_basefile"))
    return (refs.join(doc_ids, "target_basefile")
            .where(F.col("target_url") != F.col("source_url"))
            .select("target_url", "source_url")
            .distinct())


def inbound_references(triples: DataFrame) -> DataFrame:
    """→ (part, referenced_by): inversion of dcterms:references."""
    return (triples
            .where(F.col("predicate") ==
                   "http://purl.org/dc/terms/references")
            .select(F.col("object").alias("part"),
                    F.col("subject").alias("referenced_by"))
            .distinct())


def annotation_graphs(triples: DataFrame, docs: DataFrame) -> DataFrame:
    """The assembled per-document annotation graph, set-at-a-time.

    ≙ the reference's per-basefile CONSTRUCT (ref res/sparql/
    annotations.rq:1-20, driver documentrepository.py:2557-2612): for
    every document URI U, the graph holds (a) every triple whose
    subject is in U's part set {x : x dcterms:isPartOf* U} (reflexive),
    (b) for every referencing resource s of any part, the synthesized
    ``part dcterms:isReferencedBy s`` triple plus all of s's own
    triples. One run assembles ALL documents' annotation graphs — the
    per-document SPARQL loop becomes three joins against the closure.

    → (doc_uri, subject, predicate, object, objtype, lang, datatype)
    distinct.
    """
    from ..graph.closure import ispartof_closure
    doc_uris = docs.select(F.col("uri").alias("doc_uri")).distinct()
    closure = ispartof_closure(triples)
    # the part set is small (documents + their parts) and feeds three
    # branches below — cut its lineage so the closure derivation runs
    # once, not per branch
    parts = (closure
             .join(doc_uris, closure.ancestor == doc_uris.doc_uri)
             .select("doc_uri", "part")
             .unionByName(doc_uris.select(
                 "doc_uri", F.col("doc_uri").alias("part")))
             .distinct().localCheckpoint(eager=True))
    t = triples.select("subject", "predicate", "object", "objtype",
                       "lang", "datatype")
    body = ["subject", "predicate", "object", "objtype", "lang", "datatype"]
    part_triples = (parts.join(t, parts.part == t.subject)
                    .select("doc_uri", *body))
    refs = (triples.where(F.col("predicate") == DCT_REFERENCES)
            .select(F.col("subject").alias("ref_s"),
                    F.col("object").alias("part")))
    ref_parts = parts.join(refs, "part").select("doc_uri", "part", "ref_s")
    ref_links = ref_parts.select(
        "doc_uri", F.col("part").alias("subject"),
        F.lit(DCT_IS_REFERENCED_BY).alias("predicate"),
        F.col("ref_s").alias("object"), F.lit("uri").alias("objtype"),
        F.lit("").alias("lang"), F.lit("").alias("datatype"))
    ref_triples = (ref_parts.select("doc_uri", "ref_s").distinct()
                   .join(t, F.col("ref_s") == t.subject)
                   .select("doc_uri", *body))
    return (part_triples.unionByName(ref_links).unionByName(ref_triples)
            .distinct())


def stale_after(deps: DataFrame, changed_urls: list[str]) -> DataFrame:
    """Dependency-driven regeneration: given re-parsed source urls,
    the documents whose generated output is now stale — the changed
    docs themselves plus every doc whose dependency file lists a
    changed doc (ref documentrepository.py:1986-2008 add_dependency,
    2392-2405 outfile_is_newer over direct dependencies; the reference
    checks one level, not transitively).

    → (url) distinct.
    """
    spark = deps.sparkSession
    changed = spark.createDataFrame([(u,) for u in changed_urls],
                                    "url string")
    dependents = (deps.join(
        changed.withColumnRenamed("url", "source_url"), "source_url")
        .select(F.col("target_url").alias("url")))
    return changed.unionByName(dependents).distinct().orderBy("url")


DCT_REFERENCES = "http://purl.org/dc/terms/references"
DCT_IS_REFERENCED_BY = "http://purl.org/dc/terms/isReferencedBy"


def sameas_mapping(triples: DataFrame) -> DataFrame:
    """→ (uri, canonical_id): the owl:sameAs component mapping, with its
    lineage cut. The mapping is tiny (aliased resources only) but
    expensive to derive (iterative CC), so every join and action that
    reads it reuses this copy instead of re-running CC.
    :func:`entities_table` returns it, and :func:`canonicalize_triples`
    takes it prebuilt."""
    sameas = triples.where(F.col("predicate") == OWL_SAMEAS)
    return canonical_mapping(sameas).localCheckpoint(eager=True)


def canonicalize_triples(triples: DataFrame,
                         mapping: DataFrame | None = None) -> DataFrame:
    """Rewrite subject/object through the owl:sameAs component mapping.

    Returns the triple table with ``subject``/``object`` replaced by the
    component representative (min URI) where a mapping exists; sameAs
    triples themselves are retained (identity assertions are data).
    The mapping side is small relative to the corpus (only aliased
    resources appear), so both joins broadcast when below the threshold —
    at larger alias volumes they hash-join on the rewritten key with AQE
    skew splitting. ``mapping``: a prebuilt :func:`sameas_mapping` of
    ``triples`` (its columns in any order); default builds one.
    """
    if mapping is None:
        mapping = sameas_mapping(triples)
    # broadcast when it fits: a sort-merge join here would shuffle the
    # FULL triple table twice just to rewrite the aliased minority
    if mapping.count() <= 5_000_000:
        mapping = F.broadcast(mapping)
    t = (triples.alias("t")
         .join(mapping.withColumnRenamed("uri", "subject")
                      .withColumnRenamed("canonical_id", "subj_canon"),
               "subject", "left")
         .withColumn("subject", F.coalesce("subj_canon", "subject"))
         .drop("subj_canon"))
    t = (t.join(mapping.withColumnRenamed("uri", "object")
                       .withColumnRenamed("canonical_id", "obj_canon"),
                "object", "left")
         .withColumn("object",
                     F.when(F.col("objtype") == "uri",
                            F.coalesce("obj_canon", "object"))
                      .otherwise(F.col("object")))
         .drop("obj_canon"))
    return t


def entities_table(triples: DataFrame) -> DataFrame:
    """→ (canonical_id, uri): every aliased resource with its
    representative; singletons map to themselves. The result is the
    :func:`sameas_mapping` of ``triples``, so it can serve as
    :func:`canonicalize_triples`' ``mapping``."""
    return sameas_mapping(triples).select("canonical_id", "uri")
