"""Independent references for the outputs the benchmark checks.

Nothing here uses Spark. The pipeline's lake output is read back with
pyarrow; expected tables come from the repository's single-threaded
extraction reference (``kgcache``) and its DuckDB oracle SQL
(``kgoracle``, ``sparql.compile_sql`` and the operators' ``sql_*``
twins). All of it runs outside the timed region and after ``setup_s``.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.dataset as ds
import pyarrow.parquet as pq

TRIPLE_COLS = ["subject", "predicate", "object", "objtype", "lang",
               "datatype", "source_url", "context"]
DOC_COLS = ["url", "uri", "lang", "title", "text", "status"]

# float results (pagerank ranks, BM25 scores) are rounded to 6 dp by both
# engines; summation order may still move the last digit
FLOAT_ATOL = 1e-6


def read_lake_table(path: str) -> pd.DataFrame:
    """One table of the pipeline's output; hive partition directories
    (the triples table's bucket=/predicate=) become columns, with Spark's
    path escaping decoded."""
    return ds.dataset(path, format="parquet",
                      partitioning="hive").to_table().to_pandas()


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_bool_dtype(df[c]) or \
                not pd.api.types.is_numeric_dtype(df[c]):
            df[c] = df[c].map(lambda v: "\x00null" if v is None or
                              (isinstance(v, float) and np.isnan(v))
                              else str(v))
        else:
            df[c] = df[c].astype("float64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def same_rows(actual: pd.DataFrame, expected: pd.DataFrame) -> bool:
    """Equal as multisets of rows over expected's columns; floats within
    FLOAT_ATOL."""
    cols = list(expected.columns)
    if set(cols) - set(actual.columns) or len(actual) != len(expected):
        return False
    a, b = _norm(actual[cols]), _norm(expected[cols])
    for c in a.columns:
        if a[c].dtype == "float64":
            if not np.allclose(a[c], b[c], atol=FLOAT_ATOL, rtol=0,
                               equal_nan=True):
                return False
        elif not a[c].equals(b[c]):
            return False
    return True


def oracle(sql: str) -> pd.DataFrame:
    with duckdb.connect() as con:
        return con.sql(sql).df()


def flatten(df: pd.DataFrame, path: str) -> str:
    """Write ``df`` as one parquet file for the DuckDB oracles."""
    import pyarrow as pa
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
    return path


# ------------------------------------------------------------ builds

def expected_build(n: int, rows: list[dict], ref_dir: str
                   ) -> dict[str, pd.DataFrame]:
    """What a from-scratch cold build over ``rows`` must write.

    ``documents``/``triples``/``resources`` are the repository's
    single-threaded extraction reference for the unchanged corpus
    (``kgcache.ensure_kg_tables(n)``); pages whose html differs from
    ``page_row(i, n)`` are re-extracted with the same kernel and the same
    arguments. ``canonical_triples``/``entities``/``deps`` are the
    kgoracle DuckDB builders over those tables. ``entries`` holds one
    row per page with the hash of its current html.
    """
    from ferenda_spark.extract import extract_document
    from ferenda_spark.kgcache import ensure_kg_tables
    from ferenda_spark.pages import COMMONDATA, page_row
    from ferenda_spark.uris import RepoConfig

    from kgbench.corpus import content_hash

    kg = ensure_kg_tables(n)
    tables = {t: pq.read_table(kg[t]).to_pandas()
              for t in ("documents", "triples", "resources")}
    changed = [r for i, r in enumerate(rows)
               if r["html"] != page_row(i, n)["html"]]
    if changed:
        urls = {r["url"] for r in changed}
        cfg = RepoConfig(alias="doc", url="http://example.org/")
        docs, trips, res = [], [], []
        for r in changed:
            d = extract_document(r["url"], r["html"], cfg, dict(COMMONDATA))
            docs.append({c: d[c] for c in DOC_COLS})
            trips.extend({"subject": t.subject, "predicate": t.predicate,
                          "object": t.object, "objtype": t.objtype,
                          "lang": t.lang, "datatype": t.datatype,
                          "source_url": r["url"], "context": "kg"}
                         for t in d["triples"])
            res.extend({"url": r["url"], "resource_uri": u, "text": text}
                       for u, text in d["resources"])
        for t, new, key in (("documents", docs, "url"),
                            ("triples", trips, "source_url"),
                            ("resources", res, "url")):
            keep = tables[t][~tables[t][key].isin(urls)]
            tables[t] = pd.concat(
                [keep, pd.DataFrame(new, columns=keep.columns)],
                ignore_index=True)
    status = dict(zip(tables["documents"]["url"],
                      tables["documents"]["status"]))
    tables["entries"] = pd.DataFrame(
        [{"url": r["url"], "stage": "parse", "status": status[r["url"]],
          "content_hash": content_hash(r["html"])} for r in rows])
    tables.update(derived({t: flatten(tables[t], os.path.join(
        ref_dir, t + ".parquet")) for t in ("documents", "triples")}))
    return tables


def derived(paths: dict[str, str]) -> dict[str, pd.DataFrame]:
    """The relate stage's tables by the kgoracle DuckDB builders over the
    ``documents``/``triples`` parquet files in ``paths``."""
    from ferenda_spark import kgoracle
    return {"canonical_triples": oracle(kgoracle.sql_canonical_triples(paths)),
            "entities": oracle(kgoracle.sql_entities(paths)),
            "deps": oracle(kgoracle.sql_deps(paths))}


def check_build(out: str, expected: dict[str, pd.DataFrame],
                processed: int, expected_processed: int,
                own_relate_input: str | None = None) -> list[str]:
    """Names of the outputs of one pipeline run that differ from
    ``expected``; 'processed' is the run's printed counter. With
    ``own_relate_input`` (a scratch dir) the relate tables are checked
    against the oracles run over the run's own triples and documents."""
    wrong = []
    got_tables = {t: read_lake_table(os.path.join(out, t)) for t in expected}
    if own_relate_input:
        expected = dict(expected, **derived({
            "triples": flatten(got_tables["triples"][TRIPLE_COLS], os.path.join(
                own_relate_input, "triples.parquet")),
            "documents": flatten(got_tables["documents"], os.path.join(
                own_relate_input, "documents.parquet"))}))
    for table, want in expected.items():
        got = got_tables[table]
        if table == "entries":
            # history rows of earlier content are allowed; every page must
            # have exactly its current content recorded
            got = got.merge(want[["url", "content_hash"]],
                            on=["url", "content_hash"])
        if not same_rows(got, want):
            wrong.append(table)
    if processed != expected_processed:
        wrong.append("processed")
    return wrong


# -------------------------------------------------------- query mix

def lake_files(lake: str, ref_dir: str) -> dict[str, str]:
    """The lake tables the queries read, each as one parquet file for the
    DuckDB oracles."""
    files = {}
    for t in ("triples", "documents", "resources"):
        df = read_lake_table(os.path.join(lake, t))
        files[t] = flatten(df[TRIPLE_COLS] if t == "triples" else df,
                           os.path.join(ref_dir, t + ".parquet"))
    return files
