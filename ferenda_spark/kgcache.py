"""Deterministic local materialization of the KG-corpus extraction.

The driver's correctness gate compares each Spark query against DuckDB
SQL. The KG pipeline's input (the synthetic ``pages`` corpus) is
generated, not one of the driver's parquet tables — so to give every
kg_* query a *hard* oracle we materialize the extraction output to
parquet with a pure-Python single-threaded run of the same per-document
extraction kernel (``ferenda_spark.extract.extract_document``), then:

- the extraction queries (kg_documents/kg_triples/kg_resources) run the
  REAL distributed Spark stage and are compared against this parquet —
  a cross-execution check of the mapInPandas plumbing, batching,
  explode projections and schema;
- the downstream relational/graph queries read this parquet through
  Spark and run the real operators, while their oracles are plain
  DuckDB SQL (recursive CTEs for closures/components, unrolled power
  iteration for pagerank) over the same files.

The cache directory is keyed by (n, fingerprint of the extraction
source modules), so editing the extraction code invalidates it
automatically; installing a fingerprint removes that n's older ones.
Everything here is pure pandas/pyarrow — no Spark — so
``oracle_sql()`` can trigger materialization regardless of whether the
driver runs queries or oracles first.
"""

from __future__ import annotations

import hashlib
import os
import shutil

# modules whose behavior determines the extraction output; a change in
# any of them re-keys the cache directory
_FINGERPRINT_MODULES = [
    "pages.py", "extract.py", "htmltree.py", "metadata.py", "model.py",
    "rdfa.py", "rfcdoc.py", "segment.py", "fsm.py", "textextract.py",
    "uris.py", "linking.py", "namespaces.py", "patch.py", "kgcache.py",
    "coin.py", "rdfio.py", "operators/minting.py", "res/corpus.space.ttl",
]

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_REPO_ROOT = os.path.dirname(_PKG_DIR)

TABLES = ("documents", "triples", "triples_raw", "resources", "minted",
          "pages_meta")


def _fingerprint() -> str:
    h = hashlib.sha256()
    for name in _FINGERPRINT_MODULES:
        p = os.path.join(_PKG_DIR, name)
        if os.path.exists(p):
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:12]


def evict_stale(root: str, prefix: str, keep: str) -> None:
    """Remove the cache directories under ``root`` named ``prefix*``
    (one cache key's older fingerprints) except ``keep``; an
    in-progress ``*.tmp.*`` write is left to its writer."""
    for name in os.listdir(root):
        if name.startswith(prefix) and name != keep and ".tmp." not in name:
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)


def kg_dir(n: int) -> str:
    return os.path.join(_REPO_ROOT, ".kg_cache",
                        "n%d_%s" % (n, _fingerprint()))


def kg_paths(n: int) -> dict[str, str]:
    d = kg_dir(n)
    return {t: os.path.join(d, t + ".parquet") for t in TABLES}


def _build_tables(n: int):
    """Single-threaded reference run of the extraction kernel."""
    from .extract import extract_document
    from .pages import CFG, COMMONDATA, page_row

    from .operators.minting import default_space_ttl, mint_rows

    space_ttl = default_space_ttl()
    doc_rows, trip_rows, raw_rows, res_rows, mint_rows_ = [], [], [], [], []
    meta_rows = []
    for i in range(n):
        page = page_row(i, n)
        url = page["url"]
        meta_rows.append({"url": url,
                          "warc_ts": page["warc_ts"].isoformat(sep=" ")})
        d = extract_document(url, page["html"], CFG, dict(COMMONDATA))
        doc_rows.append({"url": d["url"], "uri": d["uri"],
                         "lang": d["lang"], "title": d["title"],
                         "text": d["text"], "status": d["status"]})
        for t in d["triples"]:
            trip_rows.append({"subject": t.subject, "predicate": t.predicate,
                              "object": t.object, "objtype": t.objtype,
                              "lang": t.lang, "datatype": t.datatype,
                              "source_url": url, "context": "kg"})
        for uri, text in d["resources"]:
            res_rows.append({"url": url, "resource_uri": uri, "text": text})
        raw = extract_document(url, page["html"], CFG, None)
        for t in raw.get("triples", []):
            raw_rows.append({"subject": t.subject, "predicate": t.predicate,
                             "object": t.object, "objtype": t.objtype,
                             "lang": t.lang, "datatype": t.datatype,
                             "source_url": url, "context": ""})
        mint_rows_.extend(mint_rows(space_ttl, url, d["triples"]))
    return {"documents": doc_rows, "triples": trip_rows,
            "triples_raw": raw_rows, "resources": res_rows,
            "minted": mint_rows_, "pages_meta": meta_rows}


_COLUMNS = {
    "documents": ["url", "uri", "lang", "title", "text", "status"],
    "triples": ["subject", "predicate", "object", "objtype", "lang",
                "datatype", "source_url", "context"],
    "triples_raw": ["subject", "predicate", "object", "objtype", "lang",
                    "datatype", "source_url", "context"],
    "resources": ["url", "resource_uri", "text"],
    "minted": ["source_url", "subject", "minted", "rank"],
    "pages_meta": ["url", "warc_ts"],
}

_INT_COLUMNS = {"rank"}


def ensure_kg_tables(n: int) -> dict[str, str]:
    """Materialize (once) and return {table: parquet path}."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = kg_dir(n)
    marker = os.path.join(d, "_SUCCESS")
    paths = kg_paths(n)
    if os.path.exists(marker):
        return paths
    tmp = d + ".tmp.%d" % os.getpid()
    os.makedirs(tmp, exist_ok=True)
    tables = _build_tables(n)
    for t, rows in tables.items():
        cols = _COLUMNS[t]
        pdf = pd.DataFrame(rows, columns=cols)
        # explicit schema: nulls stay nulls, no pandas dtype inference
        schema = pa.schema([(c, pa.int32() if c in _INT_COLUMNS
                             else pa.string()) for c in cols])
        pq.write_table(pa.Table.from_pandas(pdf, schema=schema,
                                            preserve_index=False),
                       os.path.join(tmp, t + ".parquet"))
    with open(os.path.join(tmp, "_SUCCESS"), "w") as f:
        f.write("ok\n")
    if os.path.exists(d):        # lost a race; ours is equivalent
        shutil.rmtree(tmp)
    else:
        os.replace(tmp, d)
    evict_stale(os.path.dirname(d), "n%d_" % n, os.path.basename(d))
    return paths
