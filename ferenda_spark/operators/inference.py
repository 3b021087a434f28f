"""RDFS forward-chaining materialization over the triple table.

The reference stores distilled graphs in a triplestore and leaves
entailment to the store (ref ferenda/triplestore.py:56-104 — Fuseki /
Sesame backends, whose RDFS reasoners materialize at query time). A
Spark KG pipeline wants the opposite: materialize the entailed triples
ONCE as a batch operator, so every downstream query (facets, SPARQL,
annotations) reads plain parquet without a reasoner. This implements
the useful RDFS rule subset:

- rdfs5/rdfs11: ``subPropertyOf`` / ``subClassOf`` transitivity
- rdfs7:  (s p o), (p ⊑q q)        → (s q o)
- rdfs2:  (p domain C), (s p o)    → (s rdf:type C)
- rdfs3:  (p range  C), (s p o:uri)→ (o rdf:type C)
- rdfs9:  (s rdf:type C), (C ⊑ D)  → (s rdf:type D)

Scale design: the schema (ontology) is small by nature — thousands of
terms against billions of data triples — so the schema closures are
computed on the driver (plain Python fixpoint over the ontology plus
any schema triples found in the data; that collect is bounded by the
ontology size, not the corpus) and every rule application is ONE
broadcast join against the data scan. No data-sized shuffle exists
except the final ``distinct`` that dedups derived against asserted
triples — and that one is keyed by the uniform (s,p,o) hash. One pass
is a fixpoint for this rule set given a static schema: derived triples
are either (s q o) with q a schema superproperty (closed upfront) or
``rdf:type`` triples, which feed only rdfs9 (applied last, over the
closed subclass relation). The one unsupported corner — an ontology
that declares superproperties or domain/range for ``rdf:type`` itself
— raises.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..namespaces import NS, RDF_TYPE
from .util import DRIVER_THRESHOLD, driver_edges

RDFS_SUBCLASS = NS["rdfs"] + "subClassOf"
RDFS_SUBPROP = NS["rdfs"] + "subPropertyOf"
RDFS_DOMAIN = NS["rdfs"] + "domain"
RDFS_RANGE = NS["rdfs"] + "range"
SCHEMA_PREDS = (RDFS_SUBCLASS, RDFS_SUBPROP, RDFS_DOMAIN, RDFS_RANGE)

# rdfs_materialize_delta: Δ batches under this row count dedup against
# the entailed table via a broadcast semi scan (E never shuffles);
# at/above it — or on any schema-change batch — the shuffle anti-join
# branch runs instead (the broadcast-join-selection cutoff pattern,
# cf. sparql.PATH_DRIVER_THRESHOLD)
DELTA_BROADCAST_THRESHOLD = 2_000_000


def _closure(pairs: set[tuple[str, str]]) -> set[tuple[str, str]]:
    """Driver-side transitive closure (non-reflexive) of a small
    relation — the schema twin of graph/closure.py's fixpoint."""
    out = {(a, b) for a, b in pairs if a != b}
    while True:
        new = {(a, c)
               for a, b in out for b2, c in out
               if b == b2 and a != c} - out
        if not new:
            return out
        out |= new


def schema_closure(ontology: list[tuple[str, str, str]],
                   data_schema: list[tuple[str, str, str]] = ()):
    """→ (subclass_pairs, subprop_pairs, domain_pairs, range_pairs),
    with both subsumption relations transitively closed. ``ontology``
    is the supplied schema; ``data_schema`` any schema triples found in
    the data (same shape)."""
    sc, sp, dom, rng = set(), set(), set(), set()
    for s, p, o in list(ontology) + list(data_schema):
        if p == RDFS_SUBCLASS:
            sc.add((s, o))
        elif p == RDFS_SUBPROP:
            sp.add((s, o))
        elif p == RDFS_DOMAIN:
            dom.add((s, o))
        elif p == RDFS_RANGE:
            rng.add((s, o))
        else:
            raise ValueError("not a schema triple predicate: %s" % p)
    sc, sp = _closure(sc), _closure(sp)
    if any(RDF_TYPE in pair for pair in sp) or \
       any(p == RDF_TYPE for p, _ in dom | rng):
        raise ValueError("schema over rdf:type itself is not supported "
                         "(would need an iterative fixpoint)")
    # rdfs7-then-rdfs2/3 composition: a domain/range axiom on a
    # SUPERproperty applies to data asserted with the SUBproperty, so
    # fold the axioms down the (closed) subproperty relation upfront —
    # after this, one broadcast join per rule is the full fixpoint.
    sub_of = {}
    for a, b in sp:
        sub_of.setdefault(b, set()).add(a)
    for axioms in (dom, rng):
        for p, c in list(axioms):
            for q in sub_of.get(p, ()):
                axioms.add((q, c))
    return sc, sp, dom, rng


def _pair_df(spark: SparkSession, pairs, cols) -> DataFrame | None:
    if not pairs:
        return None
    return spark.createDataFrame(sorted(pairs), "%s string, %s string"
                                 % cols)


def rdfs_materialize(triples: DataFrame,
                     ontology: list[tuple[str, str, str]],
                     include_data_schema: bool = True) -> DataFrame:
    """→ distinct entailed (subject, predicate, object, objtype): the
    asserted data triples plus everything the RDFS rule subset derives
    under ``ontology`` (∪ schema triples asserted in the data, unless
    disabled). Derived object types: superproperty derivations keep the
    source triple's objtype; rdf:type derivations are 'uri'."""
    spark = triples.sparkSession
    data_schema = []
    if include_data_schema:
        # bounded collect: schema triples are ontology-sized, never
        # corpus-sized (same justification as broadcast-join selection)
        data_schema = [(r.subject, r.predicate, r.object) for r in
                       (triples.where(F.col("predicate")
                                      .isin(*SCHEMA_PREDS))
                        .select("subject", "predicate", "object")
                        .distinct().collect())]
    sc, sp, dom, rng = schema_closure(ontology, data_schema)

    # No per-branch distinct: derived duplicates collapse in TWO
    # disjoint terminal dedups (see the split below), so the only
    # data-sized shuffles in the whole plan are those. Each rule branch
    # pre-filters with a STATIC predicate-IN list (redundant with its
    # broadcast join) — pushed into the triple table's parquet scan,
    # where the files' (predicate, subject) sort lets row-group
    # statistics skip the other predicates' rows.
    data = triples.select("subject", "predicate", "object", "objtype")
    # Disjoint-family split: rdfs7 can never emit rdf:type (a schema
    # over rdf:type raises above), so the output partitions exactly
    # into the rdf:type family and the rest. Deduping them separately
    # keeps correctness identical to one global distinct while (a) the
    # type family sheds its constant predicate column from the shuffle
    # (URI-width strings — the widest column for the narrowest rows)
    # and (b) the two dedups run as independent stages instead of one
    # monolithic wide-row hash aggregate.
    parts = [data.where(F.col("predicate") != RDF_TYPE)]
    # asserted rdf:type rows keep their original objtype (degenerate
    # literal-typed assertions survive as distinct rows, exactly as
    # under the old single global distinct and in the SQL twin)
    type_rows = [data.where(F.col("predicate") == RDF_TYPE)
                 .select("subject", "object", "objtype")]
    type_parts = []

    sp_df = _pair_df(spark, sp, ("sub_p", "super_p"))
    if sp_df is not None:  # rdfs7
        parts.append(
            data.where(F.col("predicate").isin(*{a for a, _ in sp}))
            .join(F.broadcast(sp_df),
                  data["predicate"] == sp_df["sub_p"])
            .select("subject", F.col("super_p").alias("predicate"),
                    "object", "objtype"))
    # domain/range read the asserted triples only: the axioms were
    # folded down the subproperty relation in schema_closure, so the
    # rdfs7-derived copies add nothing rules 2/3 would see
    dom_df = _pair_df(spark, dom, ("on_p", "cls"))
    if dom_df is not None:  # rdfs2
        type_parts.append(
            data.where(F.col("predicate").isin(*{p for p, _ in dom}))
            .join(F.broadcast(dom_df),
                  data["predicate"] == dom_df["on_p"])
            .select("subject", F.col("cls").alias("object")))
    rng_df = _pair_df(spark, rng, ("on_p", "cls"))
    if rng_df is not None:  # rdfs3
        type_parts.append(
            data.where((F.col("objtype") == "uri") &
                       F.col("predicate").isin(*{p for p, _ in rng}))
            .join(F.broadcast(rng_df),
                  data["predicate"] == rng_df["on_p"])
            .select(F.col("object").alias("subject"),
                    F.col("cls").alias("object")))
    type_rows.extend(tp.select("subject", "object",
                               F.lit("uri").alias("objtype"))
                     for tp in type_parts)
    sc_df = _pair_df(spark, sc, ("sub_c", "super_c"))
    if sc_df is not None:  # rdfs9 over asserted ∪ rules-2/3-derived types
        types = (data.where(F.col("predicate") == RDF_TYPE)
                 .select("subject", "object"))
        for tp in type_parts:
            types = types.union(tp)
        type_rows.append(
            types.join(F.broadcast(sc_df),
                       types["object"] == sc_df["sub_c"])
            .select("subject", F.col("super_c").alias("object"),
                    F.lit("uri").alias("objtype")))

    rest = parts[0]
    for p in parts[1:]:
        rest = rest.union(p)
    typ = type_rows[0]
    for p in type_rows[1:]:
        typ = typ.union(p)
    return rest.distinct().union(
        typ.distinct().select("subject",
                              F.lit(RDF_TYPE).alias("predicate"),
                              "object", "objtype"))


def sql_rdfs_entailed(table_sql: str,
                      ontology: list[tuple[str, str, str]]) -> str:
    """DuckDB twin of :func:`rdfs_materialize` (include_data_schema
    semantics included): recursive CTEs close the two subsumption
    relations over ontology VALUES ∪ data schema triples, then the
    same four rule joins, UNION (set) dedup."""
    def vals(triples):
        rows = ", ".join("('%s', '%s', '%s')"
                         % tuple(x.replace("'", "''") for x in t)
                         for t in triples)
        return rows or "(NULL, NULL, NULL)"
    return f"""
WITH RECURSIVE onto(s, p, o) AS (
  SELECT * FROM (VALUES {vals(ontology)}) v(s, p, o) WHERE s IS NOT NULL
  UNION
  SELECT DISTINCT subject, predicate, object FROM {table_sql}
  WHERE predicate IN ('{RDFS_SUBCLASS}', '{RDFS_SUBPROP}',
                      '{RDFS_DOMAIN}', '{RDFS_RANGE}')
),
sc(a, b) AS (
  SELECT s, o FROM onto WHERE p = '{RDFS_SUBCLASS}' AND s <> o
  UNION
  SELECT sc.a, onto.o FROM sc JOIN onto
    ON onto.p = '{RDFS_SUBCLASS}' AND onto.s = sc.b AND sc.a <> onto.o
),
sp(a, b) AS (
  SELECT s, o FROM onto WHERE p = '{RDFS_SUBPROP}' AND s <> o
  UNION
  SELECT sp.a, onto.o FROM sp JOIN onto
    ON onto.p = '{RDFS_SUBPROP}' AND onto.s = sp.b AND sp.a <> onto.o
),
dom(p, c) AS (
  SELECT s, o FROM onto WHERE p = '{RDFS_DOMAIN}'
  UNION
  SELECT sp.a, d.o FROM onto d JOIN sp ON sp.b = d.s
  WHERE d.p = '{RDFS_DOMAIN}'
),
rng(p, c) AS (
  SELECT s, o FROM onto WHERE p = '{RDFS_RANGE}'
  UNION
  SELECT sp.a, r.o FROM onto r JOIN sp ON sp.b = r.s
  WHERE r.p = '{RDFS_RANGE}'
),
data AS (
  SELECT DISTINCT subject, predicate, object, objtype FROM {table_sql}
),
typed AS (
  SELECT subject, object FROM data
  WHERE predicate = '{RDF_TYPE}'
  UNION
  SELECT subject, c FROM data JOIN dom ON data.predicate = dom.p
  UNION
  SELECT data.object, c FROM data JOIN rng ON data.predicate = rng.p
  WHERE data.objtype = 'uri'
)
SELECT subject, predicate, object, objtype FROM data
UNION
SELECT subject, sp.b, object, objtype FROM data
  JOIN sp ON data.predicate = sp.a
UNION
SELECT subject, '{RDF_TYPE}', c, 'uri' FROM data
  JOIN dom ON data.predicate = dom.p
UNION
SELECT data.object, '{RDF_TYPE}', c, 'uri' FROM data
  JOIN rng ON data.predicate = rng.p
  WHERE data.objtype = 'uri'
UNION
SELECT typed.subject, '{RDF_TYPE}', sc.b, 'uri' FROM typed
  JOIN sc ON typed.object = sc.a
"""


# The synthetic corpus's mini ontology: the published DCMI / BIBO
# axioms that actually hold for its vocabulary (dcterms:references ⊑
# relation, creator ⊑ contributor, agent-valued ranges; BIBO's
# Document ⊑ foaf:Document chain) plus the corpus's own rfc:RFC class.
CORPUS_ONTOLOGY: list[tuple[str, str, str]] = [
    (NS["rfc"] + "RFC", RDFS_SUBCLASS, NS["bibo"] + "Standard"),
    (NS["bibo"] + "Standard", RDFS_SUBCLASS, NS["bibo"] + "Document"),
    (NS["bibo"] + "DocumentPart", RDFS_SUBCLASS, NS["bibo"] + "Document"),
    (NS["bibo"] + "Document", RDFS_SUBCLASS, NS["foaf"] + "Document"),
    (NS["dcterms"] + "references", RDFS_SUBPROP, NS["dcterms"] + "relation"),
    (NS["dcterms"] + "isPartOf", RDFS_SUBPROP, NS["dcterms"] + "relation"),
    (NS["dcterms"] + "creator", RDFS_SUBPROP, NS["dcterms"] + "contributor"),
    (NS["dcterms"] + "relation", RDFS_DOMAIN, NS["foaf"] + "Document"),
    (NS["dcterms"] + "publisher", RDFS_RANGE, NS["dcterms"] + "Agent"),
    (NS["dcterms"] + "rightsHolder", RDFS_RANGE, NS["dcterms"] + "Agent"),
]


def rdfs_materialize_delta(entailed: DataFrame, delta: DataFrame,
                           ontology: list[tuple[str, str, str]],
                           include_data_schema: bool = True) -> DataFrame:
    """Incremental maintenance of :func:`rdfs_materialize`: given
    ``entailed`` = entail(T) and a batch Δ of newly asserted triples,
    → the NEW rows entail(T ∪ Δ) adds (append them to the entailed
    table; ``entail(T ∪ Δ) = entailed ∪ result`` exactly, set
    semantics — tests/test_inference.py asserts the identity against a
    full recompute).

    Why Δ-sized work is possible: every rule in the subset joins ONE
    data triple against the (small, driver-closed) schema — there are
    no data×data rules — and entail(entail(T)) = entail(T), so rules
    may soundly run over the entailed table in place of the asserted
    one. Hence::

      new = rules(S_new, Δ)            -- Δ-sized: the common case
          ∪ rules(S_new − S_old, E)    -- only when Δ carries NEW
                                       -- schema triples; predicate-IN
                                       -- pushdown restricts the E scan
                                       -- to the affected predicates
      (rdfs9 last: sc_new over every type triple derived above,
       Δsc over E's existing type rows)

    followed by one (s,p,o,objtype) anti-join against E — Δ-vs-corpus.

    100-TB shape: when Δ carries no schema change (the steady state),
    E is touched only by the terminal anti-join; every rule join is a
    broadcast of ontology-sized pairs against the Δ scan.
    """
    spark = entailed.sparkSession

    def schema_rows(df):
        # bounded collect: schema triples are ontology-sized
        return [(r.subject, r.predicate, r.object) for r in
                (df.where(F.col("predicate").isin(*SCHEMA_PREDS))
                 .select("subject", "predicate", "object")
                 .distinct().collect())]

    old_schema = schema_rows(entailed) if include_data_schema else []
    new_schema = schema_rows(delta) if include_data_schema else []
    sc0, sp0, dom0, rng0 = schema_closure(ontology, old_schema)
    sc1, sp1, dom1, rng1 = schema_closure(ontology,
                                          old_schema + new_schema)
    d_sc, d_sp = sc1 - sc0, sp1 - sp0
    d_dom, d_rng = dom1 - dom0, rng1 - rng0

    cols = ("subject", "predicate", "object", "objtype")
    ddata = delta.select(*cols)
    edata = entailed.select(*cols)

    def rule_joins(data, sp, dom, rng):
        """→ (rest parts, derived (subject, object) type-pair parts) —
        the same three single-premise joins as rdfs_materialize."""
        rest, tparts = [], []
        sp_df = _pair_df(spark, sp, ("sub_p", "super_p"))
        if sp_df is not None:  # rdfs7
            rest.append(
                data.where(F.col("predicate").isin(*{a for a, _ in sp}))
                .join(F.broadcast(sp_df),
                      data["predicate"] == sp_df["sub_p"])
                .select("subject", F.col("super_p").alias("predicate"),
                        "object", "objtype"))
        dom_df = _pair_df(spark, dom, ("on_p", "cls"))
        if dom_df is not None:  # rdfs2
            tparts.append(
                data.where(F.col("predicate").isin(*{p for p, _ in dom}))
                .join(F.broadcast(dom_df),
                      data["predicate"] == dom_df["on_p"])
                .select("subject", F.col("cls").alias("object")))
        rng_df = _pair_df(spark, rng, ("on_p", "cls"))
        if rng_df is not None:  # rdfs3
            tparts.append(
                data.where((F.col("objtype") == "uri") &
                           F.col("predicate").isin(*{p for p, _ in rng}))
                .join(F.broadcast(rng_df),
                      data["predicate"] == rng_df["on_p"])
                .select(F.col("object").alias("subject"),
                        F.col("cls").alias("object")))
        return rest, tparts

    # Δ × full new schema (Δ-sized), E × schema delta (empty in the
    # steady state; folded-axiom deltas included since schema_closure
    # returns folded dom/rng)
    rest_parts, type_parts = rule_joins(ddata, sp1, dom1, rng1)
    e_rest, e_types = rule_joins(edata, d_sp, d_dom, d_rng)
    rest_parts += e_rest
    type_parts += e_types
    # Δ's own asserted rows are candidates too (they may duplicate E)
    rest_parts.append(ddata.where(F.col("predicate") != RDF_TYPE))
    type_rows = [ddata.where(F.col("predicate") == RDF_TYPE)
                 .select("subject", "object", "objtype")]
    type_rows.extend(tp.select("subject", "object",
                               F.lit("uri").alias("objtype"))
                     for tp in type_parts)

    sc_df = _pair_df(spark, sc1, ("sub_c", "super_c"))
    if sc_df is not None:  # rdfs9 over every type pair new this batch
        new_types = (ddata.where(F.col("predicate") == RDF_TYPE)
                     .select("subject", "object"))
        for tp in type_parts:
            new_types = new_types.union(tp)
        type_rows.append(
            new_types.join(F.broadcast(sc_df),
                           new_types["object"] == sc_df["sub_c"])
            .select("subject", F.col("super_c").alias("object"),
                    F.lit("uri").alias("objtype")))
    dsc_df = _pair_df(spark, d_sc, ("sub_c", "super_c"))
    if dsc_df is not None:  # rdfs9: schema delta over E's type rows
        etypes = (edata.where(F.col("predicate") == RDF_TYPE)
                  .select("subject", "object"))
        type_rows.append(
            etypes.join(F.broadcast(dsc_df),
                        etypes["object"] == dsc_df["sub_c"])
            .select("subject", F.col("super_c").alias("object"),
                    F.lit("uri").alias("objtype")))

    cand = rest_parts[0]
    for p in rest_parts[1:]:
        cand = cand.union(p)
    typ = type_rows[0]
    for p in type_rows[1:]:
        typ = typ.union(p)
    cand = cand.union(typ.select("subject",
                                 F.lit(RDF_TYPE).alias("predicate"),
                                 "object", "objtype")).distinct()

    # Terminal dedup-against-E. Steady state (no schema change, small
    # Δ): cand is Δ-sized, so NEVER shuffle E for it — broadcast cand
    # into one semi scan of E (the already-present candidates), then
    # anti-join the two SMALL sides. The semi scan carries a static
    # predicate-IN (cand's predicates are driver-known: Δ's predicates
    # closed over sp1, plus rdf:type and Δ's own), pushed into E's
    # parquet scan, where the (predicate, subject) file sort lets
    # row-group statistics skip the other predicates. Schema-change
    # batches (ΔS non-empty) can make cand corpus-sized — there the
    # plain shuffle anti-join is the right plan; both branches are
    # result-identical
    # (tests/test_inference.py runs the suite under a forced branch).
    schema_changed = bool(d_sc or d_sp or d_dom or d_rng)
    if not schema_changed and \
            ddata.limit(DELTA_BROADCAST_THRESHOLD).count() \
            < DELTA_BROADCAST_THRESHOLD:
        dpreds = {r[0] for r in
                  ddata.select("predicate").distinct().collect()}
        cpreds = (dpreds | {RDF_TYPE}
                  | {b for a, b in sp1 if a in dpreds})
        matched = (edata.where(F.col("predicate").isin(*cpreds))
                   .join(F.broadcast(cand), list(cols), "left_semi"))
        return cand.join(matched, list(cols), "left_anti")
    return cand.join(edata, list(cols), "left_anti")


def sql_rdfs_delta(table_sql: str, delta_values_sql: str,
                   ontology: list[tuple[str, str, str]]) -> str:
    """DuckDB twin of :func:`rdfs_materialize_delta` BY DEFINITION
    rather than by construction: new rows = entail(T ∪ Δ) EXCEPT
    entail(T), each side the full sql_rdfs_entailed recursive-CTE twin
    — so the Spark delta plan is checked against the semantic spec,
    not against a mirrored incremental algorithm that could share a
    bug. ``delta_values_sql`` is a table expression with columns
    (subject, predicate, object, objtype)."""
    union = ("(SELECT subject, predicate, object, objtype FROM %s "
             "UNION ALL SELECT subject, predicate, object, objtype "
             "FROM %s)" % (table_sql, delta_values_sql))
    return ("SELECT * FROM (%s) EXCEPT SELECT * FROM (%s)"
            % (sql_rdfs_entailed(union, ontology),
               sql_rdfs_entailed(table_sql, ontology)))


OWL_INVERSE = NS["owl"] + "inverseOf"
OWL_SYMMETRIC = NS["owl"] + "SymmetricProperty"
OWL_TRANSITIVE = NS["owl"] + "TransitiveProperty"


def _owl_schema(ontology, data_schema=()):
    """→ (inverse_pairs both directions, symmetric set, transitive
    set) from schema triples; owl:inverseOf is itself symmetric, so
    (p inv q) registers q→p too."""
    inv, sym, trans = set(), set(), set()
    for s, p, o in list(ontology) + list(data_schema):
        if p == OWL_INVERSE:
            inv.add((s, o))
            inv.add((o, s))
        elif p == RDF_TYPE and o == OWL_SYMMETRIC:
            sym.add(s)
        elif p == RDF_TYPE and o == OWL_TRANSITIVE:
            trans.add(s)
        else:
            raise ValueError("not an OWL property-schema triple: %s %s"
                             % (p, o))
    if RDF_TYPE in {p for p, _ in inv} | sym | trans:
        raise ValueError("OWL schema over rdf:type itself is not "
                         "supported")
    return inv, sym, trans


def owl_materialize(triples: DataFrame,
                    ontology: list[tuple[str, str, str]],
                    include_data_schema: bool = True,
                    driver_threshold: int = DRIVER_THRESHOLD
                    ) -> DataFrame:
    """→ distinct entailed (subject, predicate, object, objtype): the
    asserted triples plus the OWL-RL *property-rule* subset —
    prp-inv (owl:inverseOf, both directions), prp-symp
    (owl:SymmetricProperty), prp-trp (owl:TransitiveProperty) — the
    reasoner half rdfs_materialize leaves to the class/subsumption
    rules. Only URI-object triples participate (a literal can never
    become a subject); transitivity-derived self-loops (a p a from a
    cycle) are excluded, matching the house closure semantics
    (graph/closure.py) and the recursive-CTE twin.

    Fixpoint argument (why one pass suffices): inverse/symmetric
    images are applied BEFORE the per-predicate transitive closure, so
    every transitive predicate closes over its full edge set; the
    post-closure inverse/symmetric re-application is exact because
    closure and inversion commute — inv(closure(E)) = closure(inv(E))
    — so nothing new can feed back. Schema is ontology-sized: the
    rule tables broadcast; the per-predicate closure runs as ONE
    shared (predicate, node)-keyed iteration
    (graph/closure.transitive_closure keyed on the predicate), not one
    job per predicate.
    """
    from ..graph.closure import transitive_closure
    spark = triples.sparkSession
    data_schema = []
    if include_data_schema:
        # bounded collect: schema triples are ontology-sized
        is_schema = (F.col("predicate") == OWL_INVERSE) | \
            ((F.col("predicate") == RDF_TYPE) &
             F.col("object").isin(OWL_SYMMETRIC, OWL_TRANSITIVE))
        data_schema = [(r.subject, r.predicate, r.object) for r in
                       (triples.where(is_schema)
                        .select("subject", "predicate", "object")
                        .distinct().collect())]
    inv, sym, trans = _owl_schema(ontology, data_schema)

    data = triples.select("subject", "predicate", "object", "objtype")
    uri = data.where(F.col("objtype") == "uri")

    def invsym(df):
        """inverse + symmetric images of URI-object triples in df."""
        out = []
        inv_df = _pair_df(spark, inv, ("p_from", "p_to"))
        if inv_df is not None:
            out.append(df.join(F.broadcast(inv_df),
                               df["predicate"] == inv_df["p_from"])
                       .select(F.col("object").alias("subject"),
                               F.col("p_to").alias("predicate"),
                               F.col("subject").alias("object"),
                               F.lit("uri").alias("objtype")))
        if sym:
            out.append(df.where(F.col("predicate").isin(*sym))
                       .select(F.col("object").alias("subject"),
                               "predicate",
                               F.col("subject").alias("object"),
                               F.lit("uri").alias("objtype")))
        return out

    e1 = [data] + invsym(uri)
    if trans:
        edges = e1[0].where((F.col("objtype") == "uri") &
                            F.col("predicate").isin(*trans))
        for part in e1[1:]:
            edges = edges.union(part.where(F.col("predicate")
                                           .isin(*trans)))
        edges = edges.select("predicate", "subject", "object")                      .distinct()
        # hybrid like the graph analytics: transitive-predicate edge
        # sets are a tiny slice of the corpus, so below the cutoff
        # the per-predicate closure runs in plain Python (same
        # fixpoint, tested branch-for-branch); above it, the shared
        # (predicate, node)-keyed distributed iteration
        head = driver_edges(edges, driver_threshold)
        if head is not None:
            by_p: dict = {}
            for p, s, o in head.itertuples(index=False, name=None):
                by_p.setdefault(p, {}).setdefault(s, set()).add(o)
            rows = []
            for p, adj in by_p.items():
                # per-source BFS: cost = closure size (NOT the
                # quadratic schema _closure — data edge sets are
                # thousands of times larger than an ontology)
                for s0 in adj:
                    seen, stack = set(), list(adj[s0])
                    while stack:
                        v = stack.pop()
                        if v in seen:
                            continue
                        seen.add(v)
                        stack.extend(adj.get(v, ()))
                    rows.extend((s0, p, o_, "uri")
                                for o_ in seen if o_ != s0)
            import pandas as _pd
            tc = spark.createDataFrame(
                _pd.DataFrame(sorted(rows),
                              columns=["subject", "predicate",
                                       "object", "objtype"])
                if rows else _pd.DataFrame(
                    {"subject": _pd.Series(dtype="object"),
                     "predicate": _pd.Series(dtype="object"),
                     "object": _pd.Series(dtype="object"),
                     "objtype": _pd.Series(dtype="object")}),
                schema="subject string, predicate string, "
                       "object string, objtype string") \
                .localCheckpoint(eager=True)
        else:
            closed = transitive_closure(
                edges, src="subject", dst="object", keys=["predicate"])
            tc = closed.select(F.col("a").alias("subject"),
                               "predicate",
                               F.col("b").alias("object"),
                               F.lit("uri").alias("objtype"))
        e1.append(tc)
        e1.extend(invsym(tc))
    out = e1[0]
    for part in e1[1:]:
        out = out.union(part)
    return out.distinct()


def sql_owl_entailed(table_sql: str,
                     ontology: list[tuple[str, str, str]]) -> str:
    """DuckDB twin of :func:`owl_materialize` (include_data_schema
    semantics included): the same inverse/symmetric images before and
    after a per-predicate recursive-CTE closure (grouped on the
    predicate column, self-loops excluded), UNION (set) dedup."""
    def vals(triples):
        rows = ", ".join("('%s', '%s', '%s')"
                         % tuple(x.replace("'", "''") for x in t)
                         for t in triples)
        return rows or "(NULL, NULL, NULL)"
    return f"""
WITH RECURSIVE onto(s, p, o) AS (
  SELECT * FROM (VALUES {vals(ontology)}) v(s, p, o) WHERE s IS NOT NULL
  UNION
  SELECT DISTINCT subject, predicate, object FROM {table_sql}
  WHERE predicate = '{OWL_INVERSE}'
     OR (predicate = '{RDF_TYPE}'
         AND object IN ('{OWL_SYMMETRIC}', '{OWL_TRANSITIVE}'))
),
inv(p_from, p_to) AS (
  SELECT s, o FROM onto WHERE p = '{OWL_INVERSE}'
  UNION SELECT o, s FROM onto WHERE p = '{OWL_INVERSE}'
),
sym(p) AS (SELECT s FROM onto
           WHERE p = '{RDF_TYPE}' AND o = '{OWL_SYMMETRIC}'),
trans(p) AS (SELECT s FROM onto
             WHERE p = '{RDF_TYPE}' AND o = '{OWL_TRANSITIVE}'),
d AS (SELECT subject, predicate, object, objtype FROM {table_sql}),
u AS (SELECT * FROM d WHERE objtype = 'uri'),
e1 AS (
  SELECT * FROM d
  UNION
  SELECT u.object, i.p_to, u.subject, 'uri'
  FROM u JOIN inv i ON u.predicate = i.p_from
  UNION
  SELECT u.object, u.predicate, u.subject, 'uri'
  FROM u WHERE u.predicate IN (SELECT p FROM sym)
),
te AS (SELECT predicate, subject AS s, object AS o FROM e1
       WHERE objtype = 'uri' AND predicate IN (SELECT p FROM trans)),
tc(predicate, s, o) AS (
  SELECT predicate, s, o FROM te WHERE s <> o
  UNION
  SELECT t.predicate, t.s, e.o FROM tc t
  JOIN te e ON e.predicate = t.predicate AND e.s = t.o
  WHERE t.s <> e.o
)
SELECT DISTINCT subject, predicate, object, objtype FROM (
  SELECT * FROM e1
  UNION
  SELECT s, predicate, o, 'uri' FROM tc
  UNION
  SELECT t.o, i.p_to, t.s, 'uri'
  FROM tc t JOIN inv i ON t.predicate = i.p_from
  UNION
  SELECT o, predicate, s, 'uri' FROM tc
  WHERE predicate IN (SELECT p FROM sym)
)
"""


# OWL property axioms for the synthetic corpus: containment is
# transitive with a named inverse, references has a named inverse,
# and owl:sameAs is (per its real OWL semantics) symmetric AND
# transitive — exercising the sym×trans composition on the corpus's
# genuine identity chains.
CORPUS_OWL_ONTOLOGY = [
    (NS["dcterms"] + "isPartOf", RDF_TYPE, OWL_TRANSITIVE),
    (NS["dcterms"] + "isPartOf", OWL_INVERSE, NS["dcterms"] + "hasPart"),
    (NS["dcterms"] + "references", OWL_INVERSE,
     NS["dcterms"] + "isReferencedBy"),
    (NS["owl"] + "sameAs", RDF_TYPE, OWL_SYMMETRIC),
    (NS["owl"] + "sameAs", RDF_TYPE, OWL_TRANSITIVE),
]
