"""Corpus-size sweep of the driver's kg_* parity: the driver gate runs
everything at KG_N=200, so a bug that only appears at another corpus
shape (a TOC page crossing the 1000-row cap, a pagerank graph with a
different dangling set, annotation closures of different depth) would
ship green. This sweep re-runs representative kg queries against their
DuckDB oracles at a different n, through the registry's build fn and
oracle with the corpus size passed as ``n``.
"""

import duckdb
import pytest

SWEEP_N = 1500
QUERIES = ["kg_toc", "kg_toc_pagesets", "kg_pagerank", "kg_annotations",
           "kg_news_feed_entries", "kg_stale", "kg_search", "kg_faceted",
           "kg_describe_rfc",
           # incremental CC (component shapes change with n) and the
           # temporal islands (interval structure changes with n)
           "kg_entities_delta", "kg_triple_intervals"]


@pytest.fixture(scope="module")
def sweep():
    import __spark_entry__ as E
    # materialize the oracle inputs ONCE (the kg cache check and the
    # twin tables are shared by the parametrized cases)
    return ({q.name: q for q in E.registry()},
            E.oracle_inputs(SWEEP_N), E.CORRECTNESS_SF_DIR)


def canon(pdf):
    cols = sorted(pdf.columns)
    out = pdf[cols].astype(str).sort_values(by=cols).reset_index(drop=True)
    return out


@pytest.mark.parametrize("name", QUERIES)
def test_kg_query_parity_at_sweep_n(spark, sweep, name):
    registry, inputs, sf_dir = sweep
    q = registry[name]
    spdf = q.build(spark, sf_dir, SWEEP_N).toPandas()
    con = duckdb.connect()
    odf = con.sql(q.oracle(inputs)).df()
    assert len(spdf) == len(odf), (name, len(spdf), len(odf))
    assert len(spdf) > 0, "%s returned nothing at n=%d" % (name, SWEEP_N)
    a, b = canon(spdf), canon(odf)
    assert list(a.columns) == list(b.columns)
    assert a.equals(b), "%s diverges at n=%d" % (name, SWEEP_N)
