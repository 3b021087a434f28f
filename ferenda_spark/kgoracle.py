"""DuckDB oracle SQL for the KG pipeline queries.

Every generator receives the materialized-parquet paths from
:mod:`ferenda_spark.kgcache` and returns ANSI-ish DuckDB SQL whose
result must equal the corresponding Spark query bit-for-bit after the
driver's canonicalization (columns sorted by name, rows sorted, values
hashed). Conventions that keep the hash green:

- every aggregate is aliased identically on both sides;
- ``sum()`` and other HUGEINT-producing aggregates are cast ``::BIGINT``
  (DuckDB's int128 lands in pandas as float64, Spark's long as int64 —
  same values, different hash; see ADVICE.md round 1);
- float-valued results are rounded to 6dp on both sides; all folds are
  integer or order-insensitive at that precision;
- no array/struct columns ever reach the driver (its canonicalizer
  cannot hash list values).
"""

from __future__ import annotations

from .namespaces import NS, OWL_SAMEAS, RDF_TYPE

DCT = NS["dcterms"]

# basefile extraction pattern for the synthetic corpus config
# (pages.CFG); mirrors
# operators/relate.py _basefile_pattern
BF_PATTERN = r"^http://example\.org/res/doc/([^#]+?)(?:#.*)?$"


def _t(paths: dict[str, str], table: str) -> str:
    return "read_parquet('%s')" % paths[table]


def sql_documents(paths) -> str:
    return ("SELECT url, uri, lang, title, text, status FROM %s "
            "ORDER BY url" % _t(paths, "documents"))


def sql_triples(paths) -> str:
    return ("SELECT subject, predicate, object, objtype, lang, datatype, "
            "source_url, context FROM %s" % _t(paths, "triples"))


def sql_resources(paths) -> str:
    return ("SELECT url, resource_uri, text FROM %s"
            % _t(paths, "resources"))


def _deps_ctes(paths) -> str:
    """Shared CTE chain implementing relate_dependencies (ref
    documentrepository.py:1957-1976): URI objects, non-type/sameAs
    predicates, object not a subject in the same doc's graph, resolved
    to an owning document, no self. Terminal CTE: deps(target_url,
    source_url)."""
    return f"""
    t AS (SELECT * FROM {_t(paths, 'triples')}),
    refs AS (
      SELECT t.source_url, t.object FROM t
      WHERE t.objtype = 'uri'
        AND t.predicate NOT IN ('{RDF_TYPE}', '{OWL_SAMEAS}')
        AND NOT EXISTS (SELECT 1 FROM t o
                        WHERE o.source_url = t.source_url
                          AND o.subject = t.object)
    ),
    ref_bf AS (
      SELECT source_url,
             regexp_extract(object, '{BF_PATTERN}', 1) AS target_basefile
      FROM refs
      WHERE regexp_extract(object, '{BF_PATTERN}', 1) <> ''
    ),
    doc_ids AS (
      SELECT url AS target_url,
             regexp_extract(uri, '{BF_PATTERN}', 1) AS target_basefile
      FROM {_t(paths, 'documents')}
    ),
    deps AS (
      SELECT DISTINCT d.target_url, r.source_url
      FROM ref_bf r JOIN doc_ids d USING (target_basefile)
      WHERE d.target_url <> r.source_url
    )"""


def sql_deps(paths) -> str:
    return ("WITH %s SELECT target_url, source_url FROM deps"
            % _deps_ctes(paths))


def sql_stale(paths, changed_urls: list[str]) -> str:
    """stale_after: changed docs + their one-level dependents
    (ref documentrepository.py:2392-2405)."""
    values = ",\n      ".join("('%s')" % u for u in changed_urls)
    return f"""
    WITH {_deps_ctes(paths)},
    changed(url) AS (VALUES
      {values})
    SELECT DISTINCT url FROM (
      SELECT url FROM changed
      UNION ALL
      SELECT d.target_url FROM deps d
      JOIN changed c ON d.source_url = c.url)
    ORDER BY url
    """


def sql_annotations(paths) -> str:
    """annotation_graphs ≙ the per-document CONSTRUCT
    (ref res/sparql/annotations.rq:1-20) over ALL documents."""
    return f"""
    WITH RECURSIVE
    t AS (SELECT * FROM {_t(paths, 'triples')}),
    docs AS (SELECT DISTINCT uri AS doc_uri FROM {_t(paths, 'documents')}),
    base AS (
      SELECT DISTINCT subject AS a, object AS b FROM t
      WHERE predicate = '{DCT}isPartOf' AND subject <> object
    ),
    paths_ AS (
      SELECT a, b FROM base
      UNION
      SELECT p.a, e.b FROM paths_ p JOIN base e ON p.b = e.a
      WHERE p.a <> e.b
    ),
    parts AS (
      SELECT d.doc_uri, p.a AS part
      FROM paths_ p JOIN docs d ON p.b = d.doc_uri
      UNION
      SELECT doc_uri, doc_uri FROM docs
    ),
    part_triples AS (
      SELECT pr.doc_uri, t.subject, t.predicate, t.object,
             t.objtype, t.lang, t.datatype
      FROM parts pr JOIN t ON t.subject = pr.part
    ),
    refs AS (
      SELECT subject AS ref_s, object AS part FROM t
      WHERE predicate = '{DCT}references'
    ),
    ref_parts AS (
      SELECT pr.doc_uri, pr.part, r.ref_s
      FROM parts pr JOIN refs r ON r.part = pr.part
    ),
    ref_links AS (
      SELECT doc_uri, part AS subject,
             '{DCT}isReferencedBy' AS predicate,
             ref_s AS object, 'uri' AS objtype,
             '' AS lang, '' AS datatype
      FROM ref_parts
    ),
    ref_triples AS (
      SELECT rp.doc_uri, t.subject, t.predicate, t.object,
             t.objtype, t.lang, t.datatype
      FROM (SELECT DISTINCT doc_uri, ref_s FROM ref_parts) rp
      JOIN t ON t.subject = rp.ref_s
    )
    SELECT DISTINCT * FROM (
      SELECT * FROM part_triples
      UNION ALL SELECT * FROM ref_links
      UNION ALL SELECT * FROM ref_triples)
    """


def _cc_ctes(paths) -> str:
    """Shared recursive connected-components CTEs over owl:sameAs:
    symmetric edges → transitive reachability (UNION dedups, so the
    recursion terminates) → per-node component = min reachable node."""
    return f"""
    sa AS (
      SELECT subject AS u, object AS v FROM {_t(paths, 'triples')}
      WHERE predicate = '{OWL_SAMEAS}' AND subject <> object
    ),
    edges AS (SELECT u, v FROM sa UNION SELECT v, u FROM sa),
    reach AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
      WHERE r.u <> e.v
    ),
    comp AS (
      SELECT u AS node, least(u, min(v)) AS canonical_id
      FROM reach GROUP BY u
    )"""


def sql_entities(paths) -> str:
    return ("WITH RECURSIVE %s SELECT canonical_id, node AS uri FROM comp"
            % _cc_ctes(paths))


def sql_canonical_triples(paths) -> str:
    return f"""
    WITH RECURSIVE {_cc_ctes(paths)},
    t AS (SELECT * FROM {_t(paths, 'triples')})
    SELECT coalesce(cs.canonical_id, t.subject) AS subject,
           t.predicate,
           CASE WHEN t.objtype = 'uri'
                THEN coalesce(co.canonical_id, t.object)
                ELSE t.object END AS object,
           t.objtype, t.lang, t.datatype, t.source_url, t.context
    FROM t LEFT JOIN comp cs ON cs.node = t.subject
           LEFT JOIN comp co ON co.node = t.object
    """


def sql_linked_publishers(paths, dictionary, cutoff: float = 0.8) -> str:
    """Entity-linking oracle: the expected label→URI resolution is
    computed here with the SAME single-node primitives the reference
    uses (exact dict hit, else difflib via TrigramIndex — parity
    asserted in tests), inlined as a VALUES list; the SQL then checks
    the distributed exact-join + scorer pipeline reproduces it."""
    import duckdb

    from .linking import TrigramIndex
    labels = [r[0] for r in duckdb.sql(
        f"""SELECT DISTINCT object FROM {_t(paths, 'triples_raw')}
            WHERE predicate = '{DCT}publisher' AND objtype = 'literal'
        """).fetchall()]
    index = TrigramIndex(dictionary)
    rows = []
    for label in sorted(labels):
        hit = index.resolve(label, cutoff)
        if hit:
            matched, uri, method = hit
            rows.append("('%s', '%s', '%s')" % (label.replace("'", "''"),
                                                uri, method))
    values = ",\n      ".join(rows) or "(NULL, NULL, NULL)"
    return f"""
    WITH links(label, uri, method) AS (VALUES
      {values})
    SELECT t.subject, t.predicate, l.uri AS object,
           'uri' AS objtype, '' AS lang, '' AS datatype,
           t.source_url, l.method
    FROM {_t(paths, 'triples_raw')} t
    JOIN links l ON t.object = l.label
    WHERE t.predicate = '{DCT}publisher' AND t.objtype = 'literal'
    """


_FACETS = [
    (RDF_TYPE, "rdf_type"),
    (DCT + "title", "dcterms_title"),
    (DCT + "identifier", "dcterms_identifier"),
    (DCT + "issued", "dcterms_issued"),
    (DCT + "publisher", "dcterms_publisher"),
]


def _faceted_cte(paths) -> str:
    cols = ",\n             ".join(
        "min(object) FILTER (WHERE predicate = '%s') AS %s" % (p, c)
        for p, c in _FACETS)
    preds = ", ".join("'%s'" % p for p, _ in _FACETS)
    return f"""
    f AS (
      SELECT subject AS uri,
             {cols}
      FROM {_t(paths, 'triples')}
      WHERE predicate IN ({preds})
      GROUP BY subject
    )"""


def sql_faceted(paths) -> str:
    return "WITH %s SELECT * FROM f" % _faceted_cte(paths)


def _labels_values(dictionary: dict) -> str:
    """COMMONDATA {(pred_curie, label): uri} → SQL VALUES of the best
    label per uri (mirrors facetlib.resource_label_table's priority —
    each corpus uri carries exactly one label)."""
    rows = sorted((uri, label.replace("'", "''"))
                  for (_p, label), uri in dictionary.items())
    return ",\n      ".join("('%s', '%s')" % r for r in rows)


# util.title_sortkey in SQL (ref ferenda/util.py:724-737); unicode
# property class to match the Python \W (ASCII \W would strip å/ä/ö)
def _sortkey_sql(col: str) -> str:
    return (r"regexp_replace(regexp_replace(lower(%s), '^the ', ''),"
            r" '[^\pL\pN_]+', '', 'g')" % col)


def _uri_leaf_sql(col: str) -> str:
    """util.uri_leaf semantics (ref ferenda/util.py:621-637)."""
    branches = " ".join(
        f"WHEN contains({col}, '{ch}') THEN "
        f"CASE WHEN ends_with({col}, '{ch}') "
        f"THEN replace({col}, ' ', '_') "
        f"ELSE string_split({col}, '{ch}')[-1] END"
        for ch in ("#", "/", ":"))
    return f"(CASE {branches} ELSE replace({col}, ' ', '_') END)"


def sql_toc(paths, dictionary: dict, top_n: int = 1000) -> str:
    """toc_documents over the default facets: title (firstletter /
    titlesortkey), publisher (resourcelabel), issued (year / raw key).
    ``top_n`` mirrors toc_documents' per-page row cap so the oracle
    cannot silently diverge once a TOC page exceeds it."""
    sk = _sortkey_sql("dcterms_title")
    return f"""
    WITH {_faceted_cte(paths)},
    labels(luri, label) AS (VALUES
      {_labels_values(dictionary)}),
    src AS (
      SELECT 'dcterms_title' AS binding,
             CASE WHEN length(k) > 0 THEN substr(k, 1, 1)
                  ELSE '-' END AS value,
             k AS _key, dcterms_title AS label, uri
      FROM (SELECT {sk} AS k, dcterms_title, uri FROM f
            WHERE dcterms_title IS NOT NULL)
      UNION ALL
      SELECT 'dcterms_publisher',
             coalesce(l.label, f.dcterms_publisher),
             coalesce(l.label, f.dcterms_publisher),
             f.dcterms_title, f.uri
      FROM f LEFT JOIN labels l ON l.luri = f.dcterms_publisher
      WHERE f.dcterms_publisher IS NOT NULL
      UNION ALL
      SELECT 'dcterms_issued',
             CASE WHEN length(dcterms_issued) IN (19, 10, 7)
                  THEN substr(dcterms_issued, 1, 4) END,
             dcterms_issued, dcterms_title, uri
      FROM f WHERE dcterms_issued IS NOT NULL
    )
    SELECT binding, value, pos, label, uri FROM (
      SELECT binding, value,
             row_number() OVER (PARTITION BY binding, value
                                ORDER BY _key, uri) AS pos,
             label, uri
      FROM src WHERE value IS NOT NULL)
    WHERE pos <= {top_n}
    ORDER BY binding, value, pos
    """


def sql_toc_pagesets(paths, dictionary: dict) -> str:
    sk = _sortkey_sql("dcterms_title")
    leaf = _uri_leaf_sql("f.dcterms_publisher")
    return f"""
    WITH {_faceted_cte(paths)},
    labels(luri, label) AS (VALUES
      {_labels_values(dictionary)}),
    src AS (
      SELECT 'dcterms_title' AS binding, 'Sorted by title' AS pageset_label,
             CASE WHEN length(k) > 0 THEN substr(k, 1, 1)
                  ELSE '-' END AS value,
             CASE WHEN length(k) > 0 THEN substr(k, 1, 1)
                  ELSE '-' END AS urlfragment
      FROM (SELECT {sk} AS k FROM f WHERE dcterms_title IS NOT NULL)
      UNION ALL
      SELECT 'dcterms_publisher', 'Sorted by publisher',
             coalesce(l.label, f.dcterms_publisher), {leaf}
      FROM f LEFT JOIN labels l ON l.luri = f.dcterms_publisher
      WHERE f.dcterms_publisher IS NOT NULL
      UNION ALL
      SELECT 'dcterms_issued', 'Sorted by publication year',
             CASE WHEN length(dcterms_issued) IN (19, 10, 7)
                  THEN substr(dcterms_issued, 1, 4) END,
             CASE WHEN length(dcterms_issued) IN (19, 10, 7)
                  THEN substr(dcterms_issued, 1, 4) END
      FROM f WHERE dcterms_issued IS NOT NULL
    ),
    pages AS (
      SELECT binding, pageset_label, value,
             min(urlfragment) AS urlfragment
      FROM src WHERE value IS NOT NULL
      GROUP BY binding, pageset_label, value
    )
    SELECT binding, pageset_label, value, urlfragment,
           CASE binding
             WHEN 'dcterms_title'
               THEN 'Documents starting with "' || value || '"'
             WHEN 'dcterms_publisher'
               THEN 'Documents published by ' || value
             ELSE 'Documents published in ' || value
           END AS pagetitle
    FROM pages ORDER BY binding, value
    """


def sql_facet_stats(paths) -> str:
    return f"""
    SELECT predicate AS dimension, object AS value,
           count(DISTINCT subject) AS n
    FROM {_t(paths, 'triples')}
    WHERE predicate IN ('{RDF_TYPE}', '{DCT}publisher')
    GROUP BY dimension, value ORDER BY dimension, value
    """


def sql_ispartof_closure(paths) -> str:
    return f"""
    WITH RECURSIVE
    base AS (
      SELECT DISTINCT subject AS a, object AS b
      FROM {_t(paths, 'triples')}
      WHERE predicate = '{DCT}isPartOf' AND subject <> object
    ),
    paths_ AS (
      SELECT a, b FROM base
      UNION
      SELECT p.a, e.b FROM paths_ p JOIN base e ON p.b = e.a
      WHERE p.a <> e.b
    )
    SELECT a AS part, b AS ancestor FROM paths_
    """


def sql_inbound_refs(paths) -> str:
    return f"""
    SELECT DISTINCT object AS part, subject AS referenced_by
    FROM {_t(paths, 'triples')}
    WHERE predicate = '{DCT}references'
    """


def _edges_cte(paths) -> str:
    return f"""
    e AS (
      SELECT DISTINCT subject AS src, object AS dst
      FROM {_t(paths, 'triples')}
      WHERE predicate = '{DCT}references' AND objtype = 'uri'
        AND subject <> object
    )"""


def sql_citation_degrees(paths) -> str:
    return f"""
    WITH {_edges_cte(paths)},
    o AS (SELECT src AS node, count(*) AS out_degree FROM e GROUP BY src),
    i AS (SELECT dst AS node, count(*) AS in_degree FROM e GROUP BY dst)
    SELECT coalesce(o.node, i.node) AS node,
           coalesce(out_degree, 0) AS out_degree,
           coalesce(in_degree, 0) AS in_degree
    FROM o FULL JOIN i ON o.node = i.node
    ORDER BY node
    """


def sql_pagerank(paths, damping: float = 0.85, iters: int = 15,
                 round_to: int = 6, edges_cte: str | None = None) -> str:
    """Power iteration unrolled into ``iters`` chained CTEs — identical
    update rule to operators/graphops.pagerank: contrib from previous
    ranks, dangling mass (nodes without out-edges) redistributed
    uniformly, PR = (1-d) + d·(contrib + dangling/n).

    ``edges_cte`` overrides the citation edge set: any ``e AS
    (SELECT DISTINCT … AS src, … AS dst …)`` CTE body (the DISTINCT is
    the caller's duty — the Spark operator distincts its input), e.g.
    the host-level web graph in kg_domain_pagerank."""
    # every CTE is MATERIALIZED: DuckDB inlines plain CTEs per
    # reference, and r{k-1} appears 3× per step — unmaterialized, the
    # expansion is 3^iters scans of the parquet
    base = edges_cte if edges_cte is not None else _edges_cte(paths)
    head = f"""
    WITH {base.replace(' AS (', ' AS MATERIALIZED (', 1)},
    nodes AS MATERIALIZED (
      SELECT src AS node FROM e UNION SELECT dst FROM e),
    outd AS MATERIALIZED (
      SELECT src AS node, count(*)::DOUBLE AS deg FROM e GROUP BY src),
    nn AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM nodes),
    r0 AS MATERIALIZED (SELECT node, 1.0::DOUBLE AS rank FROM nodes)"""
    steps = []
    for k in range(1, iters + 1):
        steps.append(f""",
    c{k} AS MATERIALIZED (
      SELECT e.dst AS node, sum(r.rank / d.deg) AS contrib
      FROM e JOIN r{k - 1} r ON r.node = e.src
             JOIN outd d ON d.node = e.src
      GROUP BY e.dst),
    dg{k} AS MATERIALIZED (
      SELECT coalesce(sum(r.rank), 0.0) AS mass
      FROM r{k - 1} r LEFT JOIN outd d ON d.node = r.node
      WHERE d.node IS NULL),
    r{k} AS MATERIALIZED (
      SELECT n.node,
             {1.0 - damping} + {damping} *
               (coalesce(c.contrib, 0.0) +
                (SELECT mass FROM dg{k}) / (SELECT n FROM nn)) AS rank
      FROM nodes n LEFT JOIN c{k} c ON c.node = n.node)"""
        )
    return (head + "".join(steps) +
            f"""
    SELECT node, round(rank, {round_to}) AS rank FROM r{iters}
    ORDER BY rank DESC, node""")


def sql_hits(paths, iters: int = 15, round_to: int = 6) -> str:
    """HITS unrolled: per iteration authority = Σ hub over in-edges,
    L2-normalized; then hub = Σ authority over out-edges, L2-normalized
    (identical update order to graphops.hits' numpy branch)."""
    head = f"""
    WITH {_edges_cte(paths).replace(' AS (', ' AS MATERIALIZED (', 1)},
    nodes AS MATERIALIZED (
      SELECT src AS node FROM e UNION SELECT dst FROM e),
    s0 AS MATERIALIZED (
      SELECT node, 1.0::DOUBLE AS hub, 1.0::DOUBLE AS authority
      FROM nodes)"""
    steps = []
    for k in range(1, iters + 1):
        steps.append(f""",
    a{k} AS MATERIALIZED (
      SELECT n.node,
             coalesce((SELECT sum(s.hub) FROM e
                       JOIN s{k - 1} s ON s.node = e.src
                       WHERE e.dst = n.node), 0.0) AS a
      FROM nodes n),
    an{k} AS MATERIALIZED (
      SELECT node, a / (CASE WHEN (SELECT sqrt(sum(a * a)) FROM a{k}) > 0
                        THEN (SELECT sqrt(sum(a * a)) FROM a{k})
                        ELSE 1.0 END) AS a
      FROM a{k}),
    h{k} AS MATERIALIZED (
      SELECT n.node,
             coalesce((SELECT sum(an.a) FROM e
                       JOIN an{k} an ON an.node = e.dst
                       WHERE e.src = n.node), 0.0) AS h
      FROM nodes n),
    s{k} AS MATERIALIZED (
      SELECT h{k}.node,
             h / (CASE WHEN (SELECT sqrt(sum(h * h)) FROM h{k}) > 0
                  THEN (SELECT sqrt(sum(h * h)) FROM h{k})
                  ELSE 1.0 END) AS hub,
             an{k}.a AS authority
      FROM h{k} JOIN an{k} ON an{k}.node = h{k}.node)"""
        )
    return (head + "".join(steps) + f"""
    SELECT node, round(hub, {round_to}) AS hub,
           round(authority, {round_to}) AS authority
    FROM s{iters} ORDER BY authority DESC, node""")


def sql_doc_stats(paths) -> str:
    return f"""
    SELECT source_url, count(*) AS n_triples,
           count(DISTINCT CASE WHEN predicate = '{RDF_TYPE}'
                          THEN subject END) AS n_typed
    FROM {_t(paths, 'triples')}
    GROUP BY source_url ORDER BY source_url
    """


def sql_keyword_hubs(paths) -> str:
    return f"""
    SELECT term, count(DISTINCT doc) AS n_docs FROM (
      SELECT trim(regexp_replace(object, '[\\[\\]{{}}|#<>&]', '', 'g'))
               AS term,
             subject AS doc
      FROM {_t(paths, 'triples_raw')}
      WHERE predicate = '{DCT}subject')
    WHERE term <> '' GROUP BY term ORDER BY term
    """


def _qname_sql(col: str) -> str:
    """prefix:local via the registered namespaces, longest ns wins
    (mirrors facetlib.qname_expr)."""
    branches = " ".join(
        f"WHEN starts_with({col}, '{ns}') THEN "
        f"'{prefix}:' || substr({col}, {len(ns) + 1})"
        for prefix, ns in sorted(NS.items(), key=lambda kv: -len(kv[1])))
    return f"(CASE {branches} ELSE {col} END)"


def _news_ctes(paths, dictionary: dict) -> str:
    """Shared: faceted rows decorated with entries (url join through
    documents, updated = warc_ts) + the commondata label table."""
    return f"""
    {_faceted_cte(paths)},
    labels(luri, label) AS (VALUES
      {_labels_values(dictionary)}),
    docs AS (SELECT url, uri, title FROM {_t(paths, 'documents')}),
    ne AS (
      SELECT f.*, d.url, d.title AS entry_title, m.warc_ts AS updated
      FROM f JOIN docs d ON d.uri = f.uri
             JOIN {_t(paths, 'pages_meta')} m ON m.url = d.url
    )"""


def sql_news_feedsets(paths, dictionary: dict) -> str:
    qn = _qname_sql("ne.rdf_type")
    type_leaf = _uri_leaf_sql("ne.rdf_type")
    pub_leaf = _uri_leaf_sql("ne.dcterms_publisher")
    return f"""
    WITH {_news_ctes(paths, dictionary)},
    src AS (
      SELECT 'Sorted by type' AS feedset_label, 'rdf_type' AS binding,
             {qn} AS sel_value, {type_leaf} AS urlfragment,
             'type' AS term, 'All ' || {qn} || ' documents' AS title
      FROM ne WHERE ne.rdf_type IS NOT NULL
      UNION ALL
      SELECT 'Sorted by publisher', 'dcterms_publisher',
             coalesce(l.label, ne.dcterms_publisher), {pub_leaf},
             'publisher',
             'Documents published by ' ||
               coalesce(l.label, ne.dcterms_publisher)
      FROM ne LEFT JOIN labels l ON l.luri = ne.dcterms_publisher
      WHERE ne.dcterms_publisher IS NOT NULL
    ),
    feeds AS (
      -- feed value = identificator urlfragment (Feed(value=urlfragment));
      -- the selector value appears only in the title
      SELECT feedset_label, binding,
             min(urlfragment) AS value,
             term || '/' || lower(min(urlfragment)) AS slug,
             title
      FROM src GROUP BY feedset_label, binding, sel_value, term, title
    )
    SELECT feedset_label, binding, value, slug, title FROM feeds
    UNION ALL
    SELECT 'All', NULL, NULL, 'main', 'All documents'
    ORDER BY feedset_label, binding, value
    """


def sql_news_feed_entries(paths, dictionary: dict) -> str:
    type_leaf = _uri_leaf_sql("ne.rdf_type")
    pub_leaf = _uri_leaf_sql("ne.dcterms_publisher")
    return f"""
    WITH {_news_ctes(paths, dictionary)},
    src AS (
      SELECT 'rdf_type' AS binding, {type_leaf} AS value,
             ne.rdf_type AS _key, uri, entry_title, updated
      FROM ne WHERE ne.rdf_type IS NOT NULL
      UNION ALL
      SELECT 'dcterms_publisher',
             {pub_leaf},
             coalesce(l.label, ne.dcterms_publisher), uri, entry_title,
             updated
      FROM ne LEFT JOIN labels l ON l.luri = ne.dcterms_publisher
      WHERE ne.dcterms_publisher IS NOT NULL
    ),
    ranked AS (
      SELECT binding, value,
             row_number() OVER (PARTITION BY binding, value
                                ORDER BY _key, uri) AS pos,
             uri, entry_title, updated
      FROM src WHERE value IS NOT NULL
    ),
    main AS (
      SELECT NULL AS binding, NULL AS value,
             row_number() OVER (ORDER BY updated DESC, uri ASC) AS pos,
             uri, entry_title, updated
      FROM ne
    )
    SELECT * FROM ranked UNION ALL SELECT * FROM main
    ORDER BY binding, value, pos
    """


def sql_minted_uris(paths) -> str:
    return ("SELECT source_url, subject, minted, rank FROM %s"
            % _t(paths, "minted"))


def sql_citations(paths, base: str = "http://example.org/res/doc/") -> str:
    """extract_citations over the resources table: remove-then-scan is
    regexp_replace + regexp_extract_all in SQL (same rule by design)."""
    from .operators.citations import CORPUS_PATTERNS
    sec_pat = CORPUS_PATTERNS[0][1]
    rfc_pat = CORPUS_PATTERNS[1][1]
    return f"""
    WITH r AS (SELECT url, resource_uri, text FROM {_t(paths, 'resources')}),
    sec AS (
      SELECT url, resource_uri,
             unnest(regexp_extract_all(text, '{sec_pat}')) AS cite
      FROM r),
    r2 AS (
      SELECT url, resource_uri,
             regexp_replace(text, '{sec_pat}', '', 'g') AS text
      FROM r),
    rfc AS (
      SELECT url, resource_uri,
             unnest(regexp_extract_all(text, '{rfc_pat}')) AS cite
      FROM r2)
    SELECT url, resource_uri, 'rfc_section' AS name, cite,
           '{base}' || regexp_extract(cite, '{sec_pat}', 2) ||
             '#S' || regexp_extract(cite, '{sec_pat}', 1) AS uri
    FROM sec
    UNION ALL
    SELECT url, resource_uri, 'rfc', cite,
           '{base}' || regexp_extract(cite, '{rfc_pat}', 1)
    FROM rfc
    """


def sql_versions(paths, new_url: str) -> str:
    """archive_versions + version_history over the deterministic
    second-snapshot scenario (…0.html changed, …1.html absent, one
    new url)."""
    return f"""
    WITH docs AS (SELECT url, text FROM {_t(paths, 'documents')}),
    cur AS (SELECT url, md5(text) AS content_hash, 1 AS version
            FROM docs),
    inc AS (
      SELECT url,
             CASE WHEN url LIKE '%0.html' THEN md5(text || ' v2')
                  ELSE md5(text) END AS content_hash
      FROM docs WHERE url NOT LIKE '%1.html'
      UNION ALL
      SELECT '{new_url}', md5('new')
    ),
    merged AS (
      SELECT i.url, i.content_hash,
             CASE WHEN c.version IS NULL THEN 1
                  WHEN c.content_hash = i.content_hash THEN c.version
                  ELSE c.version + 1 END AS version
      FROM inc i LEFT JOIN cur c USING (url)
    ),
    kept AS (
      SELECT c.url, c.content_hash, c.version FROM cur c
      WHERE NOT EXISTS (SELECT 1 FROM inc i WHERE i.url = c.url)
    ),
    new_current AS (
      SELECT url, content_hash, version FROM merged
      UNION ALL SELECT url, content_hash, version FROM kept
    ),
    archived AS (
      SELECT c.url, c.content_hash, c.version
      FROM cur c JOIN inc i USING (url)
      WHERE c.content_hash <> i.content_hash
    )
    SELECT url, version, content_hash, is_current FROM (
      SELECT url, version, content_hash, TRUE AS is_current
      FROM new_current
      UNION ALL
      SELECT url, version, content_hash, FALSE FROM archived)
    ORDER BY url, version
    """


def sql_stage_counters(paths) -> str:
    return f"""
    SELECT 'parse' AS stage, status, count(DISTINCT url) AS n_urls
    FROM {_t(paths, 'documents')}
    GROUP BY stage, status ORDER BY stage, status
    """


def sql_citation_map(paths, damping: float = 0.85, iters: int = 15,
                     round_to: int = 6) -> str:
    """ranked_average_precision twin: gold = sanitized dcterms:subject
    tags (one information need per keyword), ranking = the unrolled
    pagerank ordered (rank DESC, node ASC) — AP per need + the
    '__MAP__' mean row (ref graphanalyze.py:760-806 semantics)."""
    pr = sql_pagerank(paths, damping, iters, round_to)
    return f"""
    WITH prq AS MATERIALIZED (SELECT * FROM ({pr}) q),
    ranking AS (
      SELECT node AS uri,
             row_number() OVER (ORDER BY rank DESC, node ASC) AS pos
      FROM prq),
    gold AS (
      SELECT DISTINCT
             trim(regexp_replace(object, '[\\[\\]{{}}|#<>&]', '', 'g'))
               AS need,
             subject AS uri
      FROM {_t(paths, 'triples_raw')}
      WHERE predicate = '{DCT}subject'
        AND trim(regexp_replace(object, '[\\[\\]{{}}|#<>&]', '', 'g'))
              <> ''),
    found AS (SELECT g.need, r.pos FROM gold g JOIN ranking r USING (uri)),
    prec AS (
      SELECT need,
             (row_number() OVER (PARTITION BY need ORDER BY pos))::DOUBLE
               / pos::DOUBLE AS prec
      FROM found),
    nrel AS (SELECT need, count(DISTINCT uri) AS n_rel
             FROM gold GROUP BY need),
    sums AS (SELECT need, sum(prec) AS s FROM prec GROUP BY need),
    ap AS (
      SELECT n.need, coalesce(m.s, 0.0) / n.n_rel::DOUBLE AS ap0,
             n.n_rel
      FROM nrel n LEFT JOIN sums m USING (need))
    SELECT need, round(ap0, 6) AS ap, n_rel::BIGINT AS n_rel FROM ap
    UNION ALL
    SELECT '__MAP__', round(avg(ap0), 6), count(*)::BIGINT FROM ap
    ORDER BY need
    """


def _undirected_ctes(paths, edges_cte: str | None = None) -> str:
    """e (directed citation edges) → und (a<b distinct pairs) + deg.

    ``edges_cte`` overrides the edge source: any ``e AS (SELECT src,
    dst ...)`` CTE text (same contract as sql_pagerank's override)."""
    base = edges_cte if edges_cte is not None else _edges_cte(paths)
    return f"""{base},
    und AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM e WHERE src <> dst),
    deg AS (
      SELECT n, count(*) AS d FROM (
        SELECT a AS n FROM und UNION ALL SELECT b FROM und)
      GROUP BY n)"""


def sql_triangles(paths) -> str:
    """Twin of operators.graphops.triangle_counts: the same
    (degree, id)-ordered orientation, wedge enumeration and closing
    join, per-node participation counts zero-filled over all nodes."""
    return f"""
    WITH {_undirected_ctes(paths)},
    o AS (
      SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
                  THEN u.a ELSE u.b END AS src,
             CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
                  THEN u.b ELSE u.a END AS dst,
             CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
                  THEN db.d ELSE da.d END AS dst_deg
      FROM und u
      JOIN deg da ON da.n = u.a
      JOIN deg db ON db.n = u.b),
    tri AS (
      SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
      FROM o e1
      JOIN o e2 ON e1.src = e2.src
        AND (e1.dst_deg < e2.dst_deg OR
             (e1.dst_deg = e2.dst_deg AND e1.dst < e2.dst))
      JOIN o e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
    per_node AS (
      SELECT n, count(*) AS t FROM (
        SELECT x AS n FROM tri UNION ALL
        SELECT y FROM tri UNION ALL
        SELECT z FROM tri)
      GROUP BY n)
    SELECT deg.n AS node, coalesce(per_node.t, 0)::BIGINT AS triangles
    FROM deg LEFT JOIN per_node ON per_node.n = deg.n
    ORDER BY node
    """


def sql_communities(paths, rounds: int = 4) -> str:
    """Twin of operators.graphops.label_propagation: ``rounds``
    unrolled synchronous most-frequent-neighbor-label updates with the
    smallest-label tie-break."""
    ctes = [f"""{_undirected_ctes(paths)},
    adj AS (
      SELECT a AS node, b AS nbr FROM und
      UNION ALL
      SELECT b AS node, a AS nbr FROM und),
    lab0 AS (SELECT DISTINCT node, node AS label FROM adj)"""]
    for i in range(rounds):
        ctes.append(f"""
    v{i + 1} AS (
      SELECT adj.node, l.label, count(*) AS c
      FROM adj JOIN lab{i} l ON l.node = adj.nbr
      GROUP BY adj.node, l.label),
    lab{i + 1} AS (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                                  ORDER BY c DESC, label ASC) AS rn
        FROM v{i + 1}) q
      WHERE rn = 1)""")
    return ("WITH " + ",".join(ctes) +
            f"\n    SELECT node, label FROM lab{rounds} ORDER BY node")


def sql_crawl_delta(paths, new_url: str) -> str:
    """Twin of the kg_crawl_delta driver query: snapshot B derives
    from snapshot A's triples with the same deterministic mutation the
    Spark side applies (…1.html docs dropped from the crawl, …0.html
    titles revised, one new doc), then added/removed = the two
    set-anti-joins of operators.versioning.triple_diff."""
    t = _t(paths, "triples")
    new_subj = "http://example.org/res/doc/new"
    return f"""
    WITH a AS (
      SELECT DISTINCT source_url, subject, predicate, object FROM {t}),
    b AS (
      SELECT DISTINCT source_url, subject, predicate,
             CASE WHEN predicate = '{DCT}title'
                       AND source_url LIKE '%0.html'
                  THEN object || ' (rev 2)' ELSE object END AS object
      FROM a WHERE source_url NOT LIKE '%1.html'
      UNION
      SELECT * FROM (VALUES
        ('{new_url}', '{new_subj}', '{DCT}title', 'New doc'),
        ('{new_url}', '{new_subj}', '{RDF_TYPE}',
         'http://xmlns.com/foaf/0.1/Document'))
        v(source_url, subject, predicate, object)),
    added AS (
      SELECT 'added' AS change, source_url, subject, predicate, object
      FROM b WHERE NOT EXISTS (
        SELECT 1 FROM a WHERE a.source_url = b.source_url
          AND a.subject = b.subject AND a.predicate = b.predicate
          AND a.object = b.object)),
    removed AS (
      SELECT 'removed' AS change, source_url, subject, predicate, object
      FROM a WHERE NOT EXISTS (
        SELECT 1 FROM b WHERE b.source_url = a.source_url
          AND b.subject = a.subject AND b.predicate = a.predicate
          AND b.object = a.object))
    SELECT * FROM added UNION ALL SELECT * FROM removed
    ORDER BY change, source_url, subject, predicate, object
    """


def _fusion_union(paths) -> str:
    """Shared three-source assertion union for the fusion queries —
    states the kg_conflicts/kg_fused driver corpus by formula: crawl A
    (the corpus triples), crawl B (…1.html docs not re-crawled, every
    …0.html title revised), and a mirror aggregator re-asserting every
    title under source_url + '?mirror' with the ORIGINAL value."""
    return f"""
    t0 AS (
      SELECT source_url, subject, predicate, object, objtype
      FROM {_t(paths, 'triples')}),
    b AS (
      SELECT source_url, subject, predicate,
             CASE WHEN predicate = '{DCT}title'
                       AND source_url LIKE '%0.html'
                  THEN object || ' (rev 2)' ELSE object END AS object,
             objtype
      FROM t0 WHERE source_url NOT LIKE '%1.html'),
    mirror AS (
      SELECT source_url || '?mirror' AS source_url, subject, predicate,
             object, objtype
      FROM t0 WHERE predicate = '{DCT}title'),
    u AS (
      SELECT * FROM t0 UNION ALL SELECT * FROM b
      UNION ALL SELECT * FROM mirror),
    canon AS (
      SELECT coalesce(cs.canonical_id, u.subject) AS subject,
             u.predicate,
             CASE WHEN u.objtype = 'uri'
                  THEN coalesce(co.canonical_id, u.object)
                  ELSE u.object END AS object,
             u.objtype, u.source_url
      FROM u LEFT JOIN comp cs ON cs.node = u.subject
             LEFT JOIN comp co ON co.node = u.object),
    f AS (SELECT * FROM canon WHERE predicate = '{DCT}title')"""


def sql_conflicts(paths) -> str:
    return f"""
    WITH RECURSIVE {_cc_ctes(paths)}, {_fusion_union(paths)}
    SELECT subject, predicate,
           count(DISTINCT object) AS n_values,
           count(DISTINCT source_url) AS n_sources,
           min(object) AS min_object, max(object) AS max_object
    FROM f GROUP BY subject, predicate
    HAVING count(DISTINCT object) > 1
    ORDER BY subject, predicate
    """


def sql_fused(paths) -> str:
    return f"""
    WITH RECURSIVE {_cc_ctes(paths)}, {_fusion_union(paths)},
    per_val AS (
      SELECT subject, predicate, object, objtype,
             count(DISTINCT source_url) AS support
      FROM f GROUP BY subject, predicate, object, objtype),
    ranked AS (
      SELECT *, count(*) OVER (PARTITION BY subject, predicate)
                  AS n_values,
             row_number() OVER (PARTITION BY subject, predicate
                                ORDER BY support DESC, object ASC,
                                         objtype ASC) AS rn
      FROM per_val)
    SELECT subject, predicate, object, objtype, support, n_values
    FROM ranked WHERE rn = 1 ORDER BY subject, predicate
    """


def _three_crawls(paths, new_url: str, ts) -> str:
    """Shared three-crawl snapshot CTEs for the temporal queries —
    states the _kg_three_crawls driver corpus by formula: crawl 1 =
    corpus, crawl 2 = the kg_crawl_delta mutation, crawl 3 = crawl 1
    minus …1./…3.html docs plus the new doc (the …0.html title
    revision reverted)."""
    new_subj = "http://example.org/res/doc/new"
    return f"""
    a AS (
      SELECT DISTINCT source_url, subject, predicate, object
      FROM {_t(paths, 'triples')}),
    newdoc(source_url, subject, predicate, object) AS (VALUES
      ('{new_url}', '{new_subj}', '{DCT}title', 'New doc'),
      ('{new_url}', '{new_subj}', '{RDF_TYPE}',
       'http://xmlns.com/foaf/0.1/Document')),
    b AS (
      SELECT source_url, subject, predicate,
             CASE WHEN predicate = '{DCT}title'
                       AND source_url LIKE '%0.html'
                  THEN object || ' (rev 2)' ELSE object END AS object
      FROM a WHERE source_url NOT LIKE '%1.html'
      UNION ALL SELECT * FROM newdoc),
    c AS (
      SELECT * FROM a WHERE source_url NOT LIKE '%1.html'
        AND source_url NOT LIKE '%3.html'
      UNION ALL SELECT * FROM newdoc),
    u AS (
      SELECT *, '{ts[0]}' AS crawl_ts FROM a
      UNION ALL SELECT *, '{ts[1]}' FROM b
      UNION ALL SELECT *, '{ts[2]}' FROM c)"""


def sql_triple_intervals(paths, new_url: str, ts) -> str:
    return f"""
    WITH {_three_crawls(paths, new_url, ts)},
    crawls AS (
      SELECT ts, row_number() OVER (ORDER BY ts) AS idx,
             coalesce(lead(ts) OVER (ORDER BY ts), '9999-12-31')
               AS next_ts
      FROM (SELECT DISTINCT crawl_ts AS ts FROM u)),
    t2 AS (SELECT DISTINCT source_url, subject, predicate, object,
                  crawl_ts FROM u),
    j AS (SELECT t2.*, cr.idx, cr.next_ts
          FROM t2 JOIN crawls cr ON t2.crawl_ts = cr.ts),
    isl AS (
      SELECT *, idx - row_number() OVER (
          PARTITION BY source_url, subject, predicate, object
          ORDER BY idx) AS island
      FROM j)
    SELECT source_url, subject, predicate, object,
           min(crawl_ts) AS valid_from,
           arg_max(next_ts, idx) AS valid_to
    FROM isl
    GROUP BY source_url, subject, predicate, object, island
    """


def sql_asof_crawl2(paths, new_url: str) -> str:
    """As-of an instant inside crawl 2's currency window ≡ crawl 2's
    snapshot — the by-definition identity, no interval machinery."""
    ts = ("1", "2", "3")  # unused by the b branch
    return f"""
    WITH {_three_crawls(paths, new_url, ts)}
    SELECT DISTINCT source_url, subject, predicate, object FROM b
    """


def sql_provenance(paths, run_id: str = "r1",
                   stage: str = "parse") -> str:
    """Twin of lineage.prov_triples over the parse entries: the same
    six projections stated over the documents (url, status) and
    pages_meta (url, warc_ts) parquet."""
    prov = "http://www.w3.org/ns/prov#"
    d = _t(paths, "documents")
    m = _t(paths, "pages_meta")
    art = "e.url || '#" + stage + "'"
    act = "'urn:run:" + run_id + ":" + stage + "'"
    return f"""
    WITH e AS (SELECT url, status FROM {d})
    SELECT {art} AS subject, '{RDF_TYPE}' AS predicate,
           '{prov}Entity' AS object, 'uri' AS objtype,
           e.url AS source_url FROM e
    UNION ALL
    SELECT {art}, '{prov}wasDerivedFrom', e.url, 'uri', e.url FROM e
    UNION ALL
    SELECT {art}, '{prov}wasGeneratedBy', {act}, 'uri', e.url
    FROM e WHERE status = 'ok'
    UNION ALL
    SELECT {art}, '{prov}generatedAtTime', mm.warc_ts::varchar,
           'literal', e.url
    FROM e JOIN {m} mm ON mm.url = e.url WHERE e.status = 'ok'
    UNION ALL
    SELECT {art}, '{prov}wasInvalidatedBy', {act}, 'uri', e.url
    FROM e WHERE status <> 'ok'
    UNION ALL
    SELECT DISTINCT {act}, '{RDF_TYPE}', '{prov}Activity', 'uri', ''
    FROM e
    """


def sql_personalized_pagerank(paths, seed_pred: str,
                              damping: float = 0.85, iters: int = 15,
                              round_to: int = 6) -> str:
    """Unrolled personalized-PageRank twin: teleport weight n/|S| on
    seed nodes (``seed_pred`` is a SQL predicate over ``node``), 0
    elsewhere — PR = (1-d)·w + d·(contrib + dangling·w/n), the same
    update rule as graphops.personalized_pagerank."""
    head = f"""
    WITH {_edges_cte(paths).replace(' AS (', ' AS MATERIALIZED (', 1)},
    nodes AS MATERIALIZED (
      SELECT src AS node FROM e UNION SELECT dst FROM e),
    outd AS MATERIALIZED (
      SELECT src AS node, count(*)::DOUBLE AS deg FROM e GROUP BY src),
    nn AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM nodes),
    seeds AS MATERIALIZED (SELECT node FROM nodes WHERE {seed_pred}),
    ns AS MATERIALIZED (SELECT count(*)::DOUBLE AS s FROM seeds),
    w AS MATERIALIZED (
      SELECT n.node,
             CASE WHEN s.node IS NOT NULL
                  THEN (SELECT n FROM nn) / (SELECT s FROM ns)
                  ELSE 0.0 END AS w
      FROM nodes n LEFT JOIN seeds s ON s.node = n.node),
    r0 AS MATERIALIZED (SELECT node, 1.0::DOUBLE AS rank FROM nodes)"""
    steps = []
    for k in range(1, iters + 1):
        steps.append(f""",
    c{k} AS MATERIALIZED (
      SELECT e.dst AS node, sum(r.rank / d.deg) AS contrib
      FROM e JOIN r{k - 1} r ON r.node = e.src
             JOIN outd d ON d.node = e.src
      GROUP BY e.dst),
    dg{k} AS MATERIALIZED (
      SELECT coalesce(sum(r.rank), 0.0) AS mass
      FROM r{k - 1} r LEFT JOIN outd d ON d.node = r.node
      WHERE d.node IS NULL),
    r{k} AS MATERIALIZED (
      SELECT w.node,
             {1.0 - damping} * w.w + {damping} *
               (coalesce(c.contrib, 0.0) +
                (SELECT mass FROM dg{k}) * w.w / (SELECT n FROM nn))
               AS rank
      FROM w LEFT JOIN c{k} c ON c.node = w.node)"""
        )
    return (head + "".join(steps) +
            f"""
    SELECT node, round(rank, {round_to}) AS rank FROM r{iters}
    ORDER BY rank DESC, node""")


def sql_random_walks(paths, length: int = 6, walks_per_node: int = 2,
                     seed: int = 0) -> str:
    """Recursive-CTE twin of graphops.random_walks over the citation
    edges — the same md5-hex step choice, sorted-distinct adjacency
    and sink-stop semantics."""
    return f"""
    WITH RECURSIVE {_edges_cte(paths)},
    adj AS (
      SELECT src, list_sort(list_distinct(list(dst))) AS nbrs
      FROM (SELECT DISTINCT src, dst FROM e) GROUP BY src),
    -- explicit DISTINCT: under WITH RECURSIVE, DuckDB reads a bare
    -- UNION CTE as base/step recursion and does NOT dedup the base
    nodes AS (SELECT DISTINCT node FROM (
      SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
    starts AS (
      SELECT node || ':' || w::varchar AS walk_id, node
      FROM nodes, range({walks_per_node}) t(w)),
    walk AS (
      SELECT walk_id, 0 AS step, node FROM starts
      UNION ALL
      SELECT w.walk_id, w.step + 1,
             a.nbrs[1 + (('0x' || substr(md5(
                 w.walk_id || ':' || '{seed}' || ':'
                 || (w.step + 1)::varchar), 1, 8))::BIGINT
               % len(a.nbrs))::INT]
      FROM walk w JOIN adj a ON a.src = w.node
      WHERE w.step < {length})
    SELECT walk_id, step, node FROM walk
    """


def sql_walk_pairs(paths, window: int = 2, length: int = 6,
                   walks_per_node: int = 2, seed: int = 0) -> str:
    """Twin of graphops.walk_pairs over sql_random_walks' walks."""
    walks = sql_random_walks(paths, length, walks_per_node, seed)
    return f"""
    WITH w AS ({walks})
    SELECT a.node AS center, b.node AS context,
           count(*) AS n_pairs
    FROM w a JOIN w b ON a.walk_id = b.walk_id
    WHERE a.step <> b.step AND abs(a.step - b.step) <= {window}
      AND a.node <> b.node
    GROUP BY a.node, b.node
    """


def sql_pmi_scores(paths, window: int = 2, length: int = 6,
                   walks_per_node: int = 2, seed: int = 0) -> str:
    """Twin of graphops.pmi_scores over sql_walk_pairs' pair counts:
    identical arithmetic — ln(n_pairs·N / (cnt_c·cnt_x)) rounded to 6
    — with the marginals/total as plain aggregates."""
    pairs = sql_walk_pairs(paths, window, length, walks_per_node, seed)
    return f"""
    WITH p AS ({pairs}),
    tot AS (SELECT sum(n_pairs)::DOUBLE AS n FROM p),
    cm AS (SELECT center, sum(n_pairs) AS cc FROM p GROUP BY center),
    xm AS (SELECT context, sum(n_pairs) AS cx FROM p GROUP BY context)
    SELECT p.center, p.context, p.n_pairs::BIGINT AS n_pairs,
           round(ln(p.n_pairs::DOUBLE * tot.n /
                    (cm.cc::DOUBLE * xm.cx::DOUBLE)), 6) AS pmi,
           round(greatest(ln(p.n_pairs::DOUBLE * tot.n /
                             (cm.cc::DOUBLE * xm.cx::DOUBLE)),
                          0.0), 6) AS ppmi
    FROM p JOIN cm USING (center) JOIN xm USING (context) CROSS JOIN tot
    ORDER BY center, context
    """


def sql_adamic_adar(paths, min_score: float = 0.0) -> str:
    """Twin of graphops.adamic_adar: same undirected simple graph,
    wedge enumeration through the shared neighbor, Σ 1/ln(deg z),
    existing-pair exclusion via NOT EXISTS."""
    return f"""
    WITH {_undirected_ctes(paths)},
    adj AS (SELECT a AS node, b AS nbr FROM und
            UNION ALL SELECT b, a FROM und),
    w AS (SELECT nbr AS z, node AS e FROM adj),
    wed AS (
      SELECT l.e AS a, r.e AS b, 1.0 / ln(d.d::DOUBLE) AS w
      FROM w l JOIN w r ON l.z = r.z AND l.e < r.e
      JOIN deg d ON d.n = l.z),
    sc AS (SELECT a, b, count(*)::BIGINT AS common,
                  round(sum(w), 6) AS score
           FROM wed GROUP BY a, b)
    SELECT a, b, common, score
    FROM sc WHERE score > {min_score}
      AND NOT EXISTS (SELECT 1 FROM und u WHERE u.a = sc.a AND u.b = sc.b)
    ORDER BY a, b
    """


def sql_kcore(paths, k: int = 2, rounds: int | None = None,
              edges_cte: str | None = None) -> str:
    """Twin of graphops.kcore: the same peeling unrolled KCORE_ROUNDS
    times (the shared cap — both engines run exactly these rounds, so
    they agree by construction; extra rounds past the fixpoint are
    no-ops)."""
    from .operators.graphops import KCORE_ROUNDS
    r = KCORE_ROUNDS if rounds is None else rounds
    # MATERIALIZED: each u/d is referenced 3x by the next round —
    # without it DuckDB inlines the chain exponentially (observed as
    # "Too many open files" on the base parquet at 24 rounds)
    ctes = [_undirected_ctes(paths, edges_cte),
            "u0 AS MATERIALIZED (SELECT a, b FROM und)"]
    for i in range(r):
        ctes.append(f"""
    d{i} AS MATERIALIZED (SELECT n, count(*) AS c FROM (
        SELECT a AS n FROM u{i} UNION ALL SELECT b FROM u{i}) GROUP BY n)""")
        ctes.append(f"""
    u{i + 1} AS MATERIALIZED (SELECT a, b FROM u{i}
      WHERE a IN (SELECT n FROM d{i} WHERE c >= {k})
        AND b IN (SELECT n FROM d{i} WHERE c >= {k}))""")
    return f"""
    WITH {','.join(ctes)}
    SELECT node, count(*)::BIGINT AS core_deg FROM (
        SELECT a AS node FROM u{r} UNION ALL SELECT b FROM u{r})
    GROUP BY node HAVING count(*) >= {k}
    ORDER BY node
    """


def sql_negative_samples(paths, per_positive: int = 2, seed: int = 0,
                         buckets: int = 32) -> str:
    """Twin of graphops.negative_samples: dense node ids via ONE
    row_number ordered by (md5-bucket, node) — provably identical to
    the operator's per-bucket window + broadcast offsets — and the
    same md5 corruption device, self/true-edge exclusion."""
    return f"""
    WITH {_edges_cte(paths)},
    pe AS (SELECT DISTINCT src, dst FROM e),
    nodes AS (SELECT src AS node FROM pe UNION SELECT dst FROM pe),
    nb AS (SELECT node,
                  ('0x' || substr(md5(node), 1, 8))::BIGINT % {buckets}
                    AS bkt
           FROM nodes),
    ids AS (SELECT node,
                   row_number() OVER (ORDER BY bkt, node) AS nid
            FROM nb),
    nn AS (SELECT count(*) AS n FROM nodes),
    cand AS (
      SELECT src, dst, i.sample_i,
             ('0x' || substr(md5(src || chr(31) || dst || chr(31) ||
                                 sample_i::VARCHAR || ':{seed}'),
                             1, 8))::BIGINT % nn.n + 1 AS nid
      FROM pe
      CROSS JOIN (SELECT unnest(range(0, {per_positive})) AS sample_i) i
      CROSS JOIN nn)
    SELECT c.src, c.dst, c.sample_i::BIGINT AS sample_i,
           ids.node AS neg
    FROM cand c JOIN ids USING (nid)
    WHERE ids.node <> c.src
      AND NOT EXISTS (SELECT 1 FROM pe t
                      WHERE t.src = c.src AND t.dst = ids.node)
    ORDER BY src, dst, sample_i
    """


def sql_cocitation_coupling(paths, min_n: int = 1,
                            edges_cte: str | None = None) -> str:
    """Twin of graphops.cocitation_coupling: the same two wedge
    self-joins — co-citation keyed on the citing doc, coupling keyed
    on the shared reference. ``edges_cte`` overrides the edge source
    (same contract as sql_kcore's)."""
    base = edges_cte if edges_cte is not None else _edges_cte(paths)
    return f"""
    WITH {base},
    de AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst)
    SELECT kind, a, b, n FROM (
      SELECT 'cocitation' AS kind, l.dst AS a, r.dst AS b,
             count(*)::BIGINT AS n
      FROM de l JOIN de r ON l.src = r.src AND l.dst < r.dst
      GROUP BY l.dst, r.dst
      UNION ALL
      SELECT 'coupling', l.src, r.src, count(*)::BIGINT
      FROM de l JOIN de r ON l.dst = r.dst AND l.src < r.src
      GROUP BY l.src, r.src)
    WHERE n >= {min_n}
    ORDER BY kind, a, b
    """


def sql_characteristic_sets(paths) -> str:
    """Twin of graphops.characteristic_sets: per-subject sorted
    distinct predicate string, then the census."""
    t = _t(paths, "triples")
    return f"""
    WITH per_subj AS (
      SELECT subject,
             string_agg(DISTINCT predicate, '|' ORDER BY predicate)
               AS cs,
             count(*) AS nt
      FROM {t} GROUP BY subject)
    SELECT cs, count(*)::BIGINT AS n_subjects,
           (length(cs) - length(replace(cs, '|', '')) + 1)::BIGINT
             AS n_preds,
           round(avg(nt), 6) AS avg_triples
    FROM per_subj GROUP BY cs
    ORDER BY cs
    """


def sql_bfs_distances(paths, seeds_cte: str,
                      edges_cte: str | None = None,
                      rounds: int | None = None) -> str:
    """Twin of graphops.bfs_distances: recursive expansion bounded at
    the shared BFS_ROUNDS cap, min dist per node. ``seeds_cte`` is any
    ``seeds AS (SELECT ... AS node)`` CTE text; ``edges_cte``
    overrides the edge source (sql_kcore's contract)."""
    from .operators.graphops import BFS_ROUNDS
    r = BFS_ROUNDS if rounds is None else rounds
    base = edges_cte if edges_cte is not None else _edges_cte(paths)
    return f"""
    WITH RECURSIVE {base},
    {seeds_cte},
    reach(node, dist) AS (
      SELECT DISTINCT node, 0::BIGINT FROM seeds
      UNION
      SELECT e.dst, r.dist + 1 FROM reach r
      JOIN e ON e.src = r.node AND e.src <> e.dst
      WHERE r.dist < {r}
    )
    SELECT node, min(dist)::BIGINT AS dist FROM reach GROUP BY node
    ORDER BY node
    """


def sql_modularity(paths, rounds: int = 4) -> str:
    """Twin of graphops.modularity over sql_communities' assignment:
    identical Q_c = e_c/m − (d_c/2m)² arithmetic + the '__Q__' total
    (summed unrounded, rounded once — matching the Spark fold)."""
    asg = sql_communities(paths, rounds)
    return f"""
    WITH {_undirected_ctes(paths)},
    asg AS ({asg}),
    ec AS (
      SELECT x.label, count(*) AS ec
      FROM und u JOIN asg x ON x.node = u.a JOIN asg y ON y.node = u.b
      WHERE x.label = y.label GROUP BY x.label),
    dc AS (
      SELECT asg.label, sum(d.d) AS dc
      FROM deg d JOIN asg ON asg.node = d.n GROUP BY asg.label),
    mm AS (SELECT count(*)::DOUBLE AS m FROM und),
    qq AS (
      SELECT dc.label,
             coalesce(ec.ec, 0) / mm.m
               - pow(dc.dc / (2 * mm.m), 2) AS q
      FROM dc LEFT JOIN ec USING (label) CROSS JOIN mm)
    SELECT label, round(q, 6) AS q FROM qq
    UNION ALL
    SELECT '__Q__', round(sum(q), 6) FROM qq
    ORDER BY label
    """


def sql_degree_histogram(paths, edges_cte: str | None = None) -> str:
    """Twin of graphops.degree_histogram."""
    return f"""
    WITH {_undirected_ctes(paths, edges_cte)}
    SELECT d AS deg, count(*)::BIGINT AS n_nodes
    FROM deg GROUP BY d ORDER BY deg
    """


def sql_graph_stats(paths, edges_cte: str | None = None) -> str:
    """Twin of graphops.graph_stats: identical integer moment sums
    and final arithmetic."""
    return f"""
    WITH {_undirected_ctes(paths, edges_cte)},
    hist AS (SELECT d, count(*) AS c FROM deg GROUP BY d),
    base AS (
      SELECT (SELECT count(*) FROM deg) AS nn,
             (SELECT max(d) FROM deg) AS maxd,
             (SELECT count(*) FROM und) AS m,
             (SELECT sum(c * ln(2.0 * d)) FROM hist) AS lsum),
    mom AS (
      SELECT sum(da.d * db.d)::BIGINT AS sjk,
             sum(da.d + db.d)::BIGINT AS sj,
             sum(da.d * da.d + db.d * db.d)::BIGINT AS sj2
      FROM und u JOIN deg da ON da.n = u.a JOIN deg db ON db.n = u.b)
    SELECT stat, value FROM (
      SELECT 'n_nodes' AS stat, nn::DOUBLE AS value FROM base
      UNION ALL SELECT 'n_edges', m::DOUBLE FROM base
      UNION ALL SELECT 'max_deg', maxd::DOUBLE FROM base
      UNION ALL SELECT 'mean_deg', round(2 * m::DOUBLE / nn, 6) FROM base
      UNION ALL SELECT 'alpha_mle', round(1.0 + nn / lsum, 4) FROM base
      UNION ALL
      SELECT 'assortativity',
             round(((sjk / m::DOUBLE) - pow(sj / (2 * m::DOUBLE), 2))
                   / nullif((sj2 / (2 * m::DOUBLE))
                            - pow(sj / (2 * m::DOUBLE), 2), 0.0), 6)
      FROM base CROSS JOIN mom)
    ORDER BY stat
    """


def sql_entity_summaries(paths, k: int = 3) -> str:
    """Twin of graphops.entity_summaries."""
    t = _t(paths, "triples")
    return f"""
    WITH facts AS (
      SELECT DISTINCT subject, predicate, object FROM {t}
      WHERE predicate <> '{RDF_TYPE}'),
    dfp AS (
      SELECT predicate, count(*) AS df FROM
        (SELECT DISTINCT subject, predicate FROM facts)
      GROUP BY predicate),
    nn AS (SELECT count(DISTINCT subject) AS n FROM facts),
    scored AS (
      SELECT f.subject, f.predicate, f.object,
             round(ln(nn.n::DOUBLE / dfp.df), 6) AS score
      FROM facts f JOIN dfp USING (predicate) CROSS JOIN nn),
    ranked AS (
      SELECT subject, predicate, object, score,
             row_number() OVER (
               PARTITION BY subject
               ORDER BY score DESC, predicate, object) AS rank
      FROM scored)
    SELECT subject, rank::BIGINT AS rank, predicate, object, score
    FROM ranked WHERE rank <= {k}
    ORDER BY subject, rank
    """


def sql_weighted_pagerank(paths, edges_cte: str, damping: float = 0.85,
                          iters: int = 15, round_to: int = 6) -> str:
    """Twin of graphops.weighted_pagerank: the unrolled iteration with
    contrib = rank·w/W_src. ``edges_cte`` must provide ``e AS (SELECT
    … src, … dst, … w)`` with parallel edges already summed and
    src<>dst (the operator aggregates its input the same way)."""
    head = f"""
    WITH {edges_cte.replace(' AS (', ' AS MATERIALIZED (', 1)},
    nodes AS MATERIALIZED (
      SELECT src AS node FROM e UNION SELECT dst FROM e),
    wsum AS MATERIALIZED (
      SELECT src AS node, sum(w)::DOUBLE AS ws FROM e GROUP BY src),
    nn AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM nodes),
    r0 AS MATERIALIZED (SELECT node, 1.0::DOUBLE AS rank FROM nodes)"""
    steps = []
    for k in range(1, iters + 1):
        steps.append(f""",
    c{k} AS MATERIALIZED (
      SELECT e.dst AS node, sum(r.rank * e.w / d.ws) AS contrib
      FROM e JOIN r{k - 1} r ON r.node = e.src
             JOIN wsum d ON d.node = e.src
      GROUP BY e.dst),
    dg{k} AS MATERIALIZED (
      SELECT coalesce(sum(r.rank), 0.0) AS mass
      FROM r{k - 1} r LEFT JOIN wsum d ON d.node = r.node
      WHERE d.node IS NULL),
    r{k} AS MATERIALIZED (
      SELECT n.node,
             {1.0 - damping} + {damping} *
               (coalesce(c.contrib, 0.0) +
                (SELECT mass FROM dg{k}) / (SELECT n FROM nn)) AS rank
      FROM nodes n LEFT JOIN c{k} c ON c.node = n.node)"""
        )
    return (head + "".join(steps) +
            f"""
    SELECT node, round(rank, {round_to}) AS rank FROM r{iters}
    ORDER BY rank DESC, node""")


def sql_type_inference(paths, mask_mod: int = 5) -> str:
    """Twin of the kg_type_inference driver query: hold out the types
    of every node with md5-hash ≡ 0 (mod ``mask_mod``), infer each
    untyped node's class as the majority rdf:type of its typed
    undirected citation neighbors (votes desc, cls asc tie-break),
    and grade the inference against the held-out truth."""
    return f"""
    WITH {_edges_cte(paths)},
    tfull AS (
      SELECT DISTINCT subject AS node, object AS cls
      FROM {_t(paths, 'triples')}
      WHERE predicate = '{RDF_TYPE}' AND objtype = 'uri'),
    kept AS (
      SELECT * FROM tfull
      WHERE ('0x' || substr(md5(node), 1, 8))::BIGINT % {mask_mod} <> 0),
    und AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
    votes AS (
      SELECT u.src AS node, k.cls, count(*) AS votes
      FROM und u JOIN kept k ON k.node = u.dst
      WHERE u.src NOT IN (SELECT node FROM kept)
      GROUP BY u.src, k.cls),
    ranked AS (
      SELECT node, cls, votes,
             row_number() OVER (PARTITION BY node
                                ORDER BY votes DESC, cls ASC) AS rn
      FROM votes)
    SELECT r.node, r.cls AS inferred_type, r.votes,
           (t.node IS NOT NULL) AS correct
    FROM ranked r
    LEFT JOIN tfull t ON t.node = r.node AND t.cls = r.cls
    WHERE r.rn = 1
    ORDER BY r.node
    """


def sql_pagerank_delta(paths, damping: float = 0.85,
                       old_iters: int = 15, delta_iters: int = 4,
                       round_to: int = 6, drop_mod: int = 10) -> str:
    """Twin of the kg_pagerank_delta driver query: phase 1 runs the
    full ``old_iters`` power iteration over YESTERDAY's graph (the
    citation edges minus every md5(src␟dst)-hash ≡ 0 (mod
    ``drop_mod``) edge), phase 2 warm-starts ``delta_iters`` rounds
    over the full graph from phase 1's ROUNDED ranks (new nodes seed
    at 1.0) — the same rule chain as sql_pagerank, with the edge set
    and the r0 seeding swapped mid-unroll."""
    def steps(tag, edges, prev, iters, start):
        out = []
        for j in range(iters):
            k = start + j
            out.append(f""",
    c{k} AS MATERIALIZED (
      SELECT e.dst AS node, sum(r.rank / d.deg) AS contrib
      FROM {edges} e JOIN r{k - 1} r ON r.node = e.src
             JOIN outd_{tag} d ON d.node = e.src
      GROUP BY e.dst),
    dg{k} AS MATERIALIZED (
      SELECT coalesce(sum(r.rank), 0.0) AS mass
      FROM r{k - 1} r
      JOIN nodes_{tag} nx ON nx.node = r.node
      LEFT JOIN outd_{tag} d ON d.node = r.node
      WHERE d.node IS NULL),
    r{k} AS MATERIALIZED (
      SELECT n.node,
             {1.0 - damping} + {damping} *
               (coalesce(c.contrib, 0.0) +
                (SELECT mass FROM dg{k}) / (SELECT n FROM nn_{tag}))
               AS rank
      FROM nodes_{tag} n LEFT JOIN c{k} c ON c.node = n.node)""")
        return "".join(out)

    head = f"""
    WITH eall AS MATERIALIZED (
      SELECT DISTINCT subject AS src, object AS dst
      FROM {_t(paths, 'triples')}
      WHERE predicate = '{DCT}references' AND objtype = 'uri'
        AND subject <> object),
    eold AS MATERIALIZED (
      SELECT * FROM eall
      WHERE ('0x' || substr(md5(src || chr(31) || dst), 1, 8))::BIGINT
            % {drop_mod} <> 0),
    nodes_o AS MATERIALIZED (
      SELECT src AS node FROM eold UNION SELECT dst FROM eold),
    outd_o AS MATERIALIZED (
      SELECT src AS node, count(*)::DOUBLE AS deg
      FROM eold GROUP BY src),
    nn_o AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM nodes_o),
    r0 AS MATERIALIZED (SELECT node, 1.0::DOUBLE AS rank FROM nodes_o)"""
    phase1 = steps("o", "eold", None, old_iters, 1)
    seam = f""",
    nodes_n AS MATERIALIZED (
      SELECT src AS node FROM eall UNION SELECT dst FROM eall),
    outd_n AS MATERIALIZED (
      SELECT src AS node, count(*)::DOUBLE AS deg
      FROM eall GROUP BY src),
    nn_n AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM nodes_n),
    r{old_iters + 100} AS MATERIALIZED (
      SELECT n.node, coalesce(round(o.rank, {round_to}), 1.0) AS rank
      FROM nodes_n n LEFT JOIN r{old_iters} o ON o.node = n.node)"""
    phase2 = steps("n", "eall", None, delta_iters, old_iters + 101)
    last = old_iters + 100 + delta_iters
    return (head + phase1 + seam + phase2 + f"""
    SELECT node, round(rank, {round_to}) AS rank FROM r{last}
    ORDER BY rank DESC, node""")
