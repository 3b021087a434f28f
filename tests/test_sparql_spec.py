"""SPARQL semantics against hand-written expected rows.

test_sparql.py and test_sparql_fuzz.py compare the Spark plan with the
DuckDB twin; both render the same scoping pass, so a scoping mistake
they share passes there. Here every case runs through
``compile_spark`` AND ``compile_sql`` (on DuckDB), and both must equal
the literal rows the SPARQL 1.1 spec gives for the query — §18.2.2
group evaluation order, §8.3 MINUS vs NOT EXISTS, §15.1 unbound-first
ordering, the empty group's single solution, and the scoping
restrictions the compiler reports instead of mis-evaluating.
"""

import duckdb
import pandas as pd
import pytest

from ferenda_spark import sparql

DCT = "http://purl.org/dc/terms/"
FOAF = "http://xmlns.com/foaf/0.1/"
XSD = "http://www.w3.org/2001/XMLSchema#"
A = sparql.RDF_TYPE

TRIPLES = [
    # (subject, predicate, object, objtype, lang, datatype)
    ("d1", A, FOAF + "Document", "uri", "", ""),
    ("d1", DCT + "title", "Alpha", "literal", "en", ""),
    ("d1", DCT + "publisher", "p1", "uri", "", ""),
    ("d1", DCT + "identifier", "3", "literal", "", ""),
    ("d2", A, FOAF + "Document", "uri", "", ""),
    ("d2", DCT + "title", "Beta", "literal", "en", ""),
    ("d2", DCT + "identifier", "3", "literal", "", XSD + "string"),
    ("d3", A, FOAF + "Document", "uri", "", ""),
    ("d3", DCT + "title", "Gamma", "literal", "sv", ""),
    ("d3", DCT + "publisher", "p2", "uri", "", ""),
    ("d3", DCT + "identifier", "3", "literal", "", XSD + "integer"),
    ("d3", DCT + "isPartOf", "d1", "uri", "", ""),
    ("p1", A, FOAF + "Organization", "uri", "", ""),
    ("p1", DCT + "title", "Org One", "literal", "en", ""),
    ("p2", A, FOAF + "Organization", "uri", "", ""),
]

PREFIXES = """
PREFIX dct: <http://purl.org/dc/terms/>
PREFIX foaf: <http://xmlns.com/foaf/0.1/>
PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
"""


@pytest.fixture(scope="module")
def graph(spark, tmp_path_factory):
    pdf = pd.DataFrame(TRIPLES, columns=[
        "subject", "predicate", "object", "objtype", "lang", "datatype"])
    path = str(tmp_path_factory.mktemp("sparql_spec") / "triples.parquet")
    pdf.to_parquet(path)
    return spark.createDataFrame(pdf), path


def check(graph, text, expected, ordered=False):
    """Both backends' rows (None = unbound) equal ``expected``."""
    df, path = graph
    text = PREFIXES + text
    spark_out = sparql.compile_spark(df, text).toPandas()
    duck_out = duckdb.sql(
        sparql.compile_sql("read_parquet('%s')" % path, text)).df()
    for out in (spark_out, duck_out):
        rows = [tuple(None if pd.isna(v) else v for v in r)
                for r in out.itertuples(index=False)]
        if not ordered:
            rows.sort(key=repr)
            expected = sorted(expected, key=repr)
        assert rows == expected, text


def rejects(graph, text, match):
    df, _ = graph
    with pytest.raises(sparql.SparqlError, match=match):
        sparql.compile_spark(df, PREFIXES + text)
    with pytest.raises(sparql.SparqlError, match=match):
        sparql.compile_sql("t", PREFIXES + text)


# §18.2.2: the FILTERs of a group apply after its OPTIONAL left joins,
# so the OPTIONAL + !bound idiom selects the rows without a match — at
# the top level exactly as inside a UNION branch

def test_optional_not_bound_top_level(graph):
    check(graph, """
        SELECT ?s WHERE {
          ?s a foaf:Document
          OPTIONAL { ?s dct:publisher ?p }
          FILTER(!bound(?p))
        }""", [("d2",)])


def test_optional_not_bound_in_union_branch(graph):
    check(graph, """
        SELECT ?s WHERE {
          { ?s a foaf:Document
            OPTIONAL { ?s dct:publisher ?p }
            FILTER(!bound(?p)) }
          UNION { ?s a foaf:Organization }
        }""", [("d2",), ("p1",), ("p2",)])


def test_top_level_not_exists_and_minus_see_optional_vars(graph):
    # correlated on ?p, which only the OPTIONAL binds: d1's publisher
    # p1 has a title, d3's publisher p2 has none
    for block in ("FILTER NOT EXISTS { ?p dct:title ?pt }",
                  "MINUS { ?p dct:title ?pt }"):
        check(graph, """
            SELECT ?s ?p WHERE {
              ?s a foaf:Document
              OPTIONAL { ?s dct:publisher ?p }
              FILTER(bound(?p))
              %s
            }""" % block, [("d3", "p2")])


# §18.6: EXISTS substitutes the solution's bound variables only, so a
# correlation key a solution leaves unbound (bound only by an OPTIONAL
# or by some UNION branches) matches any body row

def test_exists_on_possibly_unbound_key(graph):
    query = """
        SELECT ?s WHERE {
          ?s a foaf:Document
          OPTIONAL { ?s dct:publisher ?p }
          FILTER %sEXISTS { ?p dct:title ?pt }
        }"""
    check(graph, query % "", [("d1",), ("d2",)])
    check(graph, query % "NOT ", [("d3",)])
    check(graph, """
        SELECT ?s ?p WHERE {
          { ?s a foaf:Document } UNION { ?s dct:publisher ?p }
          FILTER EXISTS { ?p dct:title ?pt }
        }""", [("d1", None), ("d2", None), ("d3", None), ("d1", "p1")])


# §8.3: MINUS over disjoint domains removes nothing; NOT EXISTS over
# the same uncorrelated pattern removes everything

def test_minus_vs_not_exists_disjoint(graph):
    check(graph, """
        SELECT ?s WHERE {
          ?s a foaf:Organization MINUS { ?x dct:isPartOf ?y }
        }""", [("p1",), ("p2",)])
    check(graph, """
        SELECT ?s WHERE {
          ?s a foaf:Organization FILTER NOT EXISTS { ?x dct:isPartOf ?y }
        }""", [])
    check(graph, """
        SELECT ?s WHERE {
          ?s a foaf:Organization MINUS { ?s dct:title "Org One"@en }
        }""", [("p2",)])


# §8.3: MINUS removes a solution when some body solution is compatible
# with it (an unbound variable, on either side, is compatible with
# anything) and their domains share a variable; a solution whose shared
# variables are all unbound keeps its disjoint domain

def test_minus_on_possibly_unbound_key(graph):
    check(graph, """
        SELECT ?s WHERE {
          ?s a foaf:Document
          OPTIONAL { ?s dct:publisher ?p }
          MINUS { ?s dct:title ?t . ?p a foaf:Organization }
        }""", [])
    check(graph, """
        SELECT ?s ?p WHERE {
          ?s dct:publisher ?p
          MINUS { ?s dct:title ?t OPTIONAL { ?s dct:isPartOf ?p } }
        }""", [("d3", "p2")])
    check(graph, """
        SELECT ?s WHERE {
          ?s a foaf:Document
          OPTIONAL { ?s dct:publisher ?p }
          MINUS { ?p a foaf:Organization }
        }""", [("d2",)])


# §15.1: an unbound value sorts lowest — first ascending, last
# descending

def test_order_by_unbound_first(graph):
    query = """
        SELECT ?s ?p WHERE {
          ?s a foaf:Document OPTIONAL { ?s dct:publisher ?p }
        } ORDER BY %s"""
    check(graph, query % "?p ?s",
          [("d2", None), ("d1", "p1"), ("d3", "p2")], ordered=True)
    check(graph, query % "DESC(?p) ?s",
          [("d3", "p2"), ("d1", "p1"), ("d2", None)], ordered=True)


# a group with no pattern is the single empty solution (§18.2.2's Z),
# at the top level and nested

def test_empty_group_top_level(graph):
    check(graph, "ASK { FILTER EXISTS { ?s dct:isPartOf <d1> } }",
          [(True,)])
    check(graph, "ASK { FILTER NOT EXISTS { ?s dct:isPartOf <d1> } }",
          [(False,)])
    check(graph, 'SELECT ?x WHERE { BIND("a" AS ?x) }', [("a",)])


def test_empty_group_nested(graph):
    query = """
        SELECT ?s WHERE {
          { ?s a foaf:Organization }
          UNION { FILTER %sEXISTS { ?x dct:isPartOf <d1> } }
        }"""
    check(graph, query % "", [(None,), ("p1",), ("p2",)])
    check(graph, query % "NOT ", [("p1",), ("p2",)])


# a typed literal in a pattern maps its datatype like datatype() does:
# "3"^^xsd:string is the simple literal "3" (RDF 1.1)

def test_typed_literal_object(graph):
    check(graph, 'SELECT ?s WHERE { ?s dct:identifier "3"^^xsd:string }',
          [("d1",), ("d2",)])
    check(graph, 'SELECT ?s WHERE { ?s dct:identifier "3"^^xsd:integer }',
          [("d3",)])


# a BIND defers past the OPTIONALs only for variables they bind; any
# other forward reference is an error, not a silently later binding

def test_bind_deferred_for_optional_vars(graph):
    check(graph, """
        SELECT ?s ?q WHERE {
          ?s a foaf:Document
          OPTIONAL { ?s dct:publisher ?p }
          BIND(COALESCE(?p, "none") AS ?q)
        }""", [("d1", "p1"), ("d2", "none"), ("d3", "p2")])


def test_bind_forward_reference_rejected(graph):
    rejects(graph, """
        SELECT ?x WHERE {
          ?s dct:title ?t BIND(?y AS ?x) BIND(?t AS ?y)
        }""", r"\?y is not bound")


# an EXISTS probe in an expression joins before the group's BINDs and
# OPTIONALs, so a body sharing their variables is rejected instead of
# running uncorrelated

def test_exists_expression_correlated(graph):
    check(graph, """
        SELECT ?s WHERE {
          ?s a foaf:Document
          FILTER(EXISTS { ?s dct:publisher ?p } && ?s != <d1>)
        }""", [("d3",)])


def test_exists_expression_over_bind_or_optional_rejected(graph):
    rejects(graph, """
        SELECT ?s WHERE {
          ?s a foaf:Document BIND(?s AS ?u)
          FILTER(EXISTS { ?u dct:publisher ?p } || ?s = <d2>)
        }""", r"\?u")
    rejects(graph, """
        SELECT ?s WHERE {
          ?s a foaf:Document OPTIONAL { ?s dct:publisher ?p }
          FILTER(EXISTS { ?p dct:title ?t } || ?s = <d2>)
        }""", r"\?p")


# GRAPH ?g over property paths (§9.3, §18.5): every path, reflexive row
# included, is evaluated inside one named graph. The node names a and c
# sit in both graphs, and the two graphs' edges chain into a cycle, so a
# closure that crossed graphs would add pairs such as (a, d); z sits
# only in the default graph, which GRAPH ?g never ranges over

P = "http://example.org/p"
QUADS = [
    # (subject, predicate, object, context)
    ("a", P, "b", "g1"), ("b", P, "c", "g1"),
    ("e", "http://example.org/q", "a", "g1"),
    ("c", P, "d", "g2"), ("d", P, "a", "g2"),
    ("a", P, "z", ""),
]
PLUS_ROWS = [("g1", "a", "b"), ("g1", "b", "c"), ("g1", "a", "c"),
             ("g2", "c", "d"), ("g2", "d", "a"), ("g2", "c", "a")]
TERM_ROWS = [("g1", "a"), ("g1", "b"), ("g1", "c"), ("g1", "e"),
             ("g2", "a"), ("g2", "c"), ("g2", "d")]


@pytest.fixture(scope="module")
def quads(spark, tmp_path_factory):
    pdf = pd.DataFrame([(s, p, o, "uri", "", "", g) for s, p, o, g in QUADS],
                       columns=["subject", "predicate", "object", "objtype",
                                "lang", "datatype", "context"])
    path = str(tmp_path_factory.mktemp("sparql_spec") / "quads.parquet")
    pdf.to_parquet(path)
    return spark.createDataFrame(pdf), path


def test_graph_var_path_plus_stays_in_graph(quads):
    check(quads, """
        SELECT ?g ?a ?b WHERE { GRAPH ?g { ?a <%s>+ ?b } }""" % P,
          PLUS_ROWS)


def test_graph_var_path_star_reflexive_per_graph(quads):
    check(quads, """
        SELECT ?g ?a WHERE { GRAPH ?g { ?a <%s>* ?a } }""" % P,
          TERM_ROWS)


def test_graph_var_bounded_path_stays_in_graph(quads):
    check(quads, """
        SELECT ?g ?a ?b WHERE { GRAPH ?g { ?a <%s>{0,2} ?b } }""" % P,
          PLUS_ROWS + [(g, n, n) for g, n in TERM_ROWS])
