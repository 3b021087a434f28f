"""RDFS materialization: hand-derived entailments, DuckDB twin parity,
idempotence, and the rdf:type-schema guard."""

import duckdb
import pytest

from ferenda_spark.namespaces import NS, RDF_TYPE
from ferenda_spark.operators.inference import (
    CORPUS_ONTOLOGY, RDFS_DOMAIN, RDFS_RANGE, RDFS_SUBCLASS, RDFS_SUBPROP,
    rdfs_materialize, schema_closure, sql_rdfs_entailed)

EX = "http://example.org/"
TRIPLE_SCHEMA = ("subject string, predicate string, object string, "
                 "objtype string")

ONTO = [
    (EX + "RFC", RDFS_SUBCLASS, EX + "Standard"),
    (EX + "Standard", RDFS_SUBCLASS, EX + "Document"),
    (EX + "cites", RDFS_SUBPROP, EX + "relatedTo"),
    (EX + "relatedTo", RDFS_DOMAIN, EX + "Document"),
    (EX + "cites", RDFS_RANGE, EX + "Citable"),
]

DATA = [
    (EX + "a", RDF_TYPE, EX + "RFC", "uri"),
    (EX + "a", EX + "cites", EX + "b", "uri"),
    (EX + "a", EX + "title", "Doc A", "literal"),
    # a schema triple asserted in the DATA (include_data_schema path)
    (EX + "Citable", RDFS_SUBCLASS, EX + "Document", "uri"),
]


def _rows(df):
    return {tuple(r) for r in
            df.select("subject", "predicate", "object",
                      "objtype").collect()}


def test_hand_derived_entailments(spark):
    out = rdfs_materialize(
        spark.createDataFrame(DATA, TRIPLE_SCHEMA), ONTO)
    got = _rows(out)
    assert set(map(tuple, DATA)) <= got
    derived = got - set(map(tuple, DATA))
    assert derived == {
        # rdfs9 over the closed subclass chain RFC ⊑ Standard ⊑ Document
        (EX + "a", RDF_TYPE, EX + "Standard", "uri"),
        (EX + "a", RDF_TYPE, EX + "Document", "uri"),
        # rdfs7: cites ⊑ relatedTo
        (EX + "a", EX + "relatedTo", EX + "b", "uri"),
        # rdfs2 via the axiom folded down to the subproperty
        # (domain(relatedTo) applies to the cites assertion) — the
        # result (a type Document) coincides with the rdfs9 row
        # rdfs3: range(cites)=Citable
        (EX + "b", RDF_TYPE, EX + "Citable", "uri"),
        # rdfs9 over the DATA-asserted Citable ⊑ Document edge
        (EX + "b", RDF_TYPE, EX + "Document", "uri"),
    }


def test_duckdb_twin_parity(spark, tmp_path):
    df = spark.createDataFrame(DATA, TRIPLE_SCHEMA)
    p = str(tmp_path / "t.parquet")
    df.write.mode("overwrite").parquet(p)
    sql = sql_rdfs_entailed("read_parquet('%s/*.parquet')" % p, ONTO)
    oracle = {tuple(r) for r in duckdb.sql(sql).fetchall()}
    assert oracle == _rows(rdfs_materialize(df, ONTO))


def test_idempotent_fixpoint(spark):
    df = spark.createDataFrame(DATA, TRIPLE_SCHEMA)
    once = rdfs_materialize(df, ONTO)
    twice = rdfs_materialize(once, ONTO)
    assert _rows(once) == _rows(twice)


def test_corpus_ontology_parity(spark, tmp_path):
    """The driver query's shape: corpus ontology over a slice of
    realistic triples, Spark ≡ DuckDB."""
    data = [
        (EX + "d1", RDF_TYPE, NS["rfc"] + "RFC", "uri"),
        (EX + "d1", NS["dcterms"] + "references", EX + "d2", "uri"),
        (EX + "d1", NS["dcterms"] + "publisher", EX + "p1", "uri"),
        (EX + "d1#S1", NS["dcterms"] + "isPartOf", EX + "d1", "uri"),
        (EX + "d1", NS["dcterms"] + "creator", EX + "p2", "uri"),
    ]
    df = spark.createDataFrame(data, TRIPLE_SCHEMA)
    p = str(tmp_path / "c.parquet")
    df.write.mode("overwrite").parquet(p)
    got = _rows(rdfs_materialize(df, CORPUS_ONTOLOGY))
    sql = sql_rdfs_entailed("read_parquet('%s/*.parquet')" % p,
                            CORPUS_ONTOLOGY)
    assert got == {tuple(r) for r in duckdb.sql(sql).fetchall()}
    # spot checks: domain(relation) folded down to references/isPartOf;
    # range(publisher); contributor superproperty
    assert (EX + "d1", RDF_TYPE, NS["foaf"] + "Document", "uri") in got
    assert (EX + "d1#S1", RDF_TYPE, NS["foaf"] + "Document", "uri") in got
    assert (EX + "p1", RDF_TYPE, NS["dcterms"] + "Agent", "uri") in got
    assert (EX + "d1", NS["dcterms"] + "contributor", EX + "p2",
            "uri") in got


def test_rdf_type_schema_guard():
    with pytest.raises(ValueError):
        schema_closure([(EX + "p", RDFS_SUBPROP, RDF_TYPE)])
    with pytest.raises(ValueError):
        schema_closure([(RDF_TYPE, RDFS_DOMAIN, EX + "C")])


# -------------------------------------------------- incremental delta

DELTA_PLAIN = [
    # a new doc with a type (rdfs9 chain) and a cites (rdfs7 + folded
    # rdfs2 + rdfs3) — no schema change: the Δ-sized steady-state path
    (EX + "c", RDF_TYPE, EX + "RFC", "uri"),
    (EX + "c", EX + "cites", EX + "a", "uri"),
    # a duplicate of an already-asserted row (must NOT reappear)
    (EX + "a", EX + "title", "Doc A", "literal"),
]

DELTA_SCHEMA = [
    # a NEW schema edge: everything typed Document (incl. derived)
    # becomes Archivable — exercises the ΔS × E path and Δsc-over-E
    (EX + "Document", RDFS_SUBCLASS, EX + "Archivable", "uri"),
    # and a new subproperty whose superproperty carries a domain axiom
    (EX + "title", RDFS_SUBPROP, EX + "label", "uri"),
]


def _delta_vs_recompute(spark, base_rows, delta_rows):
    """The semantic identity: entailed ∪ delta-result must equal a
    full recompute over base ∪ delta, and the delta result must be
    disjoint from the entailed table."""
    from ferenda_spark.operators.inference import rdfs_materialize_delta
    base = spark.createDataFrame(base_rows, TRIPLE_SCHEMA)
    delta = spark.createDataFrame(delta_rows, TRIPLE_SCHEMA)
    entailed = rdfs_materialize(base, ONTO)
    new = rdfs_materialize_delta(entailed, delta, ONTO)
    full = rdfs_materialize(base.union(delta), ONTO)
    got_new, got_e = _rows(new), _rows(entailed)
    assert got_new & got_e == set()
    assert got_new | got_e == _rows(full)
    return got_new


def test_delta_plain_rows(spark):
    new = _delta_vs_recompute(spark, DATA, DELTA_PLAIN)
    # hand-checked: the chain fires for c, the duplicate is absent
    assert (EX + "c", RDF_TYPE, EX + "Document", "uri") in new
    assert (EX + "c", EX + "relatedTo", EX + "a", "uri") in new
    assert (EX + "a", RDF_TYPE, EX + "Citable", "uri") in new  # rdfs3
    assert (EX + "a", EX + "title", "Doc A", "literal") not in new


def test_delta_schema_rows(spark):
    new = _delta_vs_recompute(spark, DATA, DELTA_SCHEMA)
    # Δsc over E's existing (derived!) type rows
    assert (EX + "a", RDF_TYPE, EX + "Archivable", "uri") in new
    assert (EX + "b", RDF_TYPE, EX + "Archivable", "uri") in new
    # Δsp over E's data rows
    assert (EX + "a", EX + "label", "Doc A", "literal") in new
    # the schema triples themselves are new asserted rows
    assert (EX + "Document", RDFS_SUBCLASS, EX + "Archivable",
            "uri") in new


def test_delta_mixed_and_empty(spark):
    _delta_vs_recompute(spark, DATA, DELTA_PLAIN + DELTA_SCHEMA)
    from ferenda_spark.operators.inference import rdfs_materialize_delta
    base = spark.createDataFrame(DATA, TRIPLE_SCHEMA)
    entailed = rdfs_materialize(base, ONTO)
    empty = spark.createDataFrame([], TRIPLE_SCHEMA)
    assert _rows(rdfs_materialize_delta(entailed, empty, ONTO)) == set()
    # second application of the same delta returns nothing new
    delta = spark.createDataFrame(DELTA_PLAIN, TRIPLE_SCHEMA)
    once = rdfs_materialize_delta(entailed, delta, ONTO)
    grown = entailed.union(once)
    assert _rows(rdfs_materialize_delta(grown, delta, ONTO)) == set()


def test_delta_sql_twin(spark, tmp_path):
    """The by-definition oracle: entail(T∪Δ) EXCEPT entail(T) in
    DuckDB equals the Spark incremental plan's output."""
    from ferenda_spark.operators.inference import (rdfs_materialize_delta,
                                                   sql_rdfs_delta)
    base = spark.createDataFrame(DATA, TRIPLE_SCHEMA)
    p = str(tmp_path / "base.parquet")
    base.write.mode("overwrite").parquet(p)
    delta_rows = DELTA_PLAIN + DELTA_SCHEMA
    dvals = ", ".join("('%s', '%s', '%s', '%s')" % t for t in delta_rows)
    dsql = ("(SELECT * FROM (VALUES %s) "
            "v(subject, predicate, object, objtype))" % dvals)
    sql = sql_rdfs_delta("read_parquet('%s/*.parquet')" % p, dsql, ONTO)
    oracle = {tuple(r) for r in duckdb.sql(sql).fetchall()}
    entailed = rdfs_materialize(base, ONTO)
    delta = spark.createDataFrame(delta_rows, TRIPLE_SCHEMA)
    assert oracle == _rows(rdfs_materialize_delta(entailed, delta, ONTO))


def test_delta_branches_identical(spark, monkeypatch):
    """The broadcast-semi and shuffle-anti-join terminal dedups must be
    result-identical: force the shuffle branch on a steady-state batch
    (threshold 0) and compare against the broadcast branch."""
    import ferenda_spark.operators.inference as inf
    base = spark.createDataFrame(DATA, TRIPLE_SCHEMA)
    entailed = rdfs_materialize(base, ONTO)
    delta = spark.createDataFrame(DELTA_PLAIN, TRIPLE_SCHEMA)
    broad = _rows(inf.rdfs_materialize_delta(entailed, delta, ONTO))
    monkeypatch.setattr(inf, "DELTA_BROADCAST_THRESHOLD", 0)
    shuf = _rows(inf.rdfs_materialize_delta(entailed, delta, ONTO))
    assert broad == shuf and broad


# --- OWL property-rule materialization ------------------------------------

OWL = "http://www.w3.org/2002/07/owl#"
EX = "http://example.org/"


def _owl_run(spark, data, onto):
    from ferenda_spark.operators.inference import owl_materialize
    df = spark.createDataFrame(
        data, "subject string, predicate string, object string, "
              "objtype string")
    return {(r.subject, r.predicate, r.object, r.objtype)
            for r in owl_materialize(df, onto).collect()}


def test_owl_inverse_and_symmetric(spark):
    from ferenda_spark.namespaces import RDF_TYPE
    onto = [(EX + "partOf", OWL + "inverseOf", EX + "hasPart"),
            (EX + "near", RDF_TYPE, OWL + "SymmetricProperty")]
    got = _owl_run(spark, [
        ("a", EX + "partOf", "b", "uri"),
        ("c", EX + "hasPart", "d", "uri"),      # inverse fires BOTH ways
        ("x", EX + "near", "y", "uri"),
        ("m", EX + "partOf", "lit", "literal"),  # literal never inverts
    ], onto)
    assert ("b", EX + "hasPart", "a", "uri") in got
    assert ("d", EX + "partOf", "c", "uri") in got
    assert ("y", EX + "near", "x", "uri") in got
    assert ("m", EX + "partOf", "lit", "literal") in got   # kept asserted
    assert not any(s == "lit" for s, _, _, _ in got)       # never subject


def test_owl_transitive_cycle_and_composition(spark):
    from ferenda_spark.namespaces import RDF_TYPE
    onto = [(EX + "anc", RDF_TYPE, OWL + "TransitiveProperty"),
            (EX + "anc", OWL + "inverseOf", EX + "desc")]
    got = _owl_run(spark, [
        ("a", EX + "anc", "b", "uri"),
        ("b", EX + "anc", "c", "uri"),
        ("c", EX + "anc", "a", "uri"),          # cycle
        ("z", EX + "desc", "b", "uri"),         # feeds anc via inverse
    ], onto)
    anc = {(s, o) for s, p, o, _ in got if p == EX + "anc"}
    # closure over the cycle + the inverse-fed edge b->z
    assert ("a", "c") in anc and ("b", "a") in anc and ("c", "b") in anc
    assert ("a", "z") in anc                    # a->b->z through inverse
    assert not any(s == o for s, o in anc)      # no self-loops derived
    desc = {(s, o) for s, p, o, _ in got if p == EX + "desc"}
    assert desc == {(o, s) for s, o in anc}     # inv(closure)==closure(inv)


def test_owl_symmetric_transitive_sameas(spark):
    from ferenda_spark.namespaces import RDF_TYPE
    onto = [(OWL + "sameAs", RDF_TYPE, OWL + "SymmetricProperty"),
            (OWL + "sameAs", RDF_TYPE, OWL + "TransitiveProperty")]
    got = _owl_run(spark, [
        ("a", OWL + "sameAs", "b", "uri"),
        ("b", OWL + "sameAs", "c", "uri"),
    ], onto)
    same = {(s, o) for s, p, o, _ in got if p == OWL + "sameAs"}
    assert same == {("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"),
                    ("a", "c"), ("c", "a")}


def test_owl_data_schema_and_guard(spark):
    import pytest as _pytest
    from ferenda_spark.namespaces import RDF_TYPE
    # axiom asserted IN the data (include_data_schema)
    got = _owl_run(spark, [
        (EX + "near", RDF_TYPE, OWL + "SymmetricProperty", "uri"),
        ("x", EX + "near", "y", "uri"),
    ], [])
    assert ("y", EX + "near", "x", "uri") in got
    with _pytest.raises(ValueError):
        _owl_run(spark, [("x", EX + "p", "y", "uri")],
                 [(RDF_TYPE, RDF_TYPE, OWL + "TransitiveProperty")])


def test_owl_both_closure_branches_agree(spark):
    from ferenda_spark.namespaces import RDF_TYPE
    from ferenda_spark.operators.inference import owl_materialize
    onto = [(EX + "anc", RDF_TYPE, OWL + "TransitiveProperty"),
            (EX + "anc", OWL + "inverseOf", EX + "desc")]
    df = spark.createDataFrame(
        [("a", EX + "anc", "b", "uri"), ("b", EX + "anc", "c", "uri"),
         ("z", EX + "desc", "b", "uri")],
        "subject string, predicate string, object string, "
        "objtype string")
    drv = sorted(map(tuple, owl_materialize(df, onto).collect()))
    dist = sorted(map(tuple,
                      owl_materialize(df, onto,
                                      driver_threshold=0).collect()))
    assert drv == dist


def test_rule_plans_read_no_python_rdd(spark):
    """The schema and closure tables the rules build are Arrow-built
    LocalRelations: a plan leaf over a Python RDD (``Scan
    ExistingRDD``) starts Python workers in every job that reads it.
    The inputs are pandas-built, so such a leaf could only come from
    the operators."""
    import pandas as pd
    from ferenda_spark.namespaces import RDF_TYPE
    from ferenda_spark.operators.inference import (owl_materialize,
                                                   rdfs_materialize_delta)

    def frame(rows):
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["subject", "predicate", "object",
                                        "objtype"]), TRIPLE_SCHEMA)
    entailed = rdfs_materialize(frame(DATA), ONTO)
    owl_onto = [(EX + "anc", RDF_TYPE, OWL + "TransitiveProperty"),
                (EX + "anc", OWL + "inverseOf", EX + "desc")]
    plans = {
        "rdfs_materialize": entailed,
        "rdfs_materialize_delta": rdfs_materialize_delta(
            entailed, frame(DELTA_PLAIN), ONTO),
        "rdfs_materialize_delta/schema": rdfs_materialize_delta(
            entailed, frame(DELTA_SCHEMA), ONTO),
        "owl_materialize": owl_materialize(
            frame([("a", EX + "anc", "b", "uri"),
                   ("b", EX + "anc", "c", "uri"),
                   ("z", EX + "desc", "b", "uri")]), owl_onto),
    }
    for name, df in plans.items():
        assert df.collect(), name
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan, (name, plan)
