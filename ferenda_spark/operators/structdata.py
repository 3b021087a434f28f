"""Distributed structured-data extraction over a pages table.

Spark plumbing for :mod:`ferenda_spark.structdata` — the JSON-LD +
microdata → triples pass (the Web Data Commons extraction over
Common-Crawl-style pages; the reference's analogous surface is its
RDFa mining of rendered XHTML, ferenda/documentrepository.py:2182-2217).

Scale notes: ONE Arrow-batched ``mapInPandas`` stage — per-page work,
no shuffle at all; the output is a narrow 6-column triple stream that
downstream consumers (merge_triples' url-bucketed layout, the SPARQL
scans, entity linking) partition exactly like extraction triples. At 100 TB the stage is embarrassingly parallel and bounded by
parse CPU, which is why the kernels stay allocation-light and the
HTML is parsed once per syntax pair (shared tree would save ~30% — a
documented future fold; correctness first, the two kernels stay
independently testable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .util import ensure_parallelism

_SCHEMA = ("source_url string, syntax string, subject string, "
           "predicate string, object string, objtype string")


def structured_triples(pages: DataFrame, url_col: str = "url",
                       html_col: str = "html",
                       syntaxes: tuple = ("jsonld", "microdata"),
                       ) -> DataFrame:
    """(url, html) pages → (source_url, syntax, subject, predicate,
    object, objtype) embedded structured-data triples.

    ``html`` may be string or binary (utf-8, errors='replace' — the
    soup_from_basefile decode rule). Blank-node labels are scoped per
    (source_url, syntax), N-Quads style.
    """
    from ..structdata import jsonld_triples, microdata_triples
    kernels = []
    if "jsonld" in syntaxes:
        kernels.append(("jsonld", jsonld_triples))
    if "microdata" in syntaxes:
        kernels.append(("microdata", microdata_triples))

    def run(batches):
        import pandas as pd
        for pdf in batches:
            rows = {"source_url": [], "syntax": [], "subject": [],
                    "predicate": [], "object": [], "objtype": []}
            for url, html in zip(pdf[url_col], pdf[html_col]):
                if html is None or url is None:
                    continue
                for name, kernel in kernels:
                    for s, p, o, ot in kernel(html, url):
                        rows["source_url"].append(url)
                        rows["syntax"].append(name)
                        rows["subject"].append(s)
                        rows["predicate"].append(p)
                        rows["object"].append(o)
                        rows["objtype"].append(ot)
            yield pd.DataFrame(rows)

    return (ensure_parallelism(pages.select(url_col, html_col))
            .mapInPandas(run, _SCHEMA))
