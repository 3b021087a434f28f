"""Text, dedup and linking operators: Spark vs DuckDB oracle
parity at sf0.001, plus structural checks for the non-SQL-expressible
ops."""

import os

import duckdb
import numpy as np
import pytest

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(not os.path.exists(SF_DIR),
                                reason="driver testdata not present")


@pytest.fixture(scope="module")
def duck():
    from __spark_entry__ import SF_TABLES
    con = duckdb.connect()
    for t in SF_TABLES:
        con.sql(f"create view {t} as select * from "
                f"read_parquet('{SF_DIR}/{t}.parquet')")
    return con


def normalize(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.number):
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def assert_parity(spark_df, duck, sql):
    a = normalize(spark_df.toPandas())
    b = normalize(duck.sql(sql).df())
    assert list(a.columns) == list(b.columns)
    assert len(a) == len(b), (len(a), len(b))
    assert a.equals(b)


def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_language_id_parity(spark, duck):
    from ferenda_spark.operators.textops import (language_id,
                                                 oracle_sql_language_id)
    assert_parity(language_id(docs(spark)), duck, oracle_sql_language_id())


def test_ngram_jaccard_parity(spark, duck):
    from ferenda_spark.operators.dedup import (ngram_jaccard_pairs,
                                               oracle_sql_ngram_jaccard)
    assert_parity(ngram_jaccard_pairs(docs(spark), threshold=0.5), duck,
                  oracle_sql_ngram_jaccard(threshold=0.5))


def test_minhash_lsh_equals_brute_force(spark, duck):
    """LSH candidates + exact verify must recover every brute-force
    pair at this threshold (recall check)."""
    from ferenda_spark.operators.dedup import (minhash_lsh_pairs,
                                               oracle_sql_ngram_jaccard)
    assert_parity(minhash_lsh_pairs(docs(spark), threshold=0.5), duck,
                  oracle_sql_ngram_jaccard(threshold=0.5))


def test_simhash_recall(spark, duck):
    """SimHash blocking is approximate: every emitted pair must be a
    true near-dup (precision 1.0 — guaranteed by the exact-jaccard
    verify) and recall vs brute force must be high."""
    from ferenda_spark.operators.dedup import (oracle_sql_ngram_jaccard,
                                               simhash_pairs)
    got = {(r.a_id, r.b_id) for r in
           simhash_pairs(docs(spark), max_hamming=16,
                         verify_threshold=0.5).collect()}
    truth = {(r.a_id, r.b_id) for r in
             duck.sql(oracle_sql_ngram_jaccard(threshold=0.5))
                 .df().itertuples(index=False)}
    assert got <= truth          # precision 1.0
    assert len(got & truth) / len(truth) >= 0.9  # recall


def test_simhash_twin_equals_distributed(spark):
    """The dedup_simhash oracle: the single-threaded rerun of the same
    kernels returns the distributed operator's rows exactly, at the
    driver query's parameters."""
    from ferenda_spark.operators.dedup import simhash_pairs, simhash_twin
    got = simhash_pairs(docs(spark), max_hamming=16, verify_threshold=0.5) \
        .select("a_id", "b_id", "jaccard_sim").toPandas()
    twin = simhash_twin(SF_DIR)
    assert len(twin) > 0
    assert list(got.itertuples(index=False)) == \
        list(twin.itertuples(index=False))


def test_exact_duplicates(spark):
    from pyspark.sql import functions as F

    from ferenda_spark.operators.dedup import exact_duplicates
    d = docs(spark).select("doc_id", "text")
    dups = d.where(F.col("doc_id") % 7 == 0) \
            .select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    got = exact_duplicates(d.unionByName(dups)).collect()
    # every injected dup pairs with its source, rep = original id
    assert all(r.rep_id + 100000 == r.dup_id or r.rep_id == r.dup_id
               for r in got)
    n_injected = d.where(F.col("doc_id") % 7 == 0).count()
    assert len(got) == 2 * n_injected  # rep + dup rows per group


def test_link_labels_difflib_parity(spark):
    """Distributed linker must agree with the reference-semantics
    single-node ResourceLookup on exact and fuzzy hits."""
    from ferenda_spark.linking import ResourceLookup
    from ferenda_spark.operators.linking import link_labels
    dictionary = [("Example Standards Body", "http://x.org/esb"),
                  ("Web Engineering Group (WEG)", "http://x.org/weg"),
                  ("Publishing & sons", "http://x.org/pubsons")]
    mentions = ["Example Standards Body",       # exact
                "Example standards body",       # fuzzy
                "Web Engineering Group",        # fuzzy
                "Completely Unrelated Name"]    # miss
    mdf = spark.createDataFrame([(m,) for m in mentions], "label string")
    ddf = spark.createDataFrame(dictionary, "label string, uri string")
    got = {r.label: (r.uri, r.method)
           for r in link_labels(mdf, ddf).collect()}
    ref = ResourceLookup((uri, "http://xmlns.com/foaf/0.1/name", lbl)
                         for lbl, uri in dictionary)
    for m in mentions:
        try:
            expect = ref.lookup(m)
        except KeyError:
            assert m not in got
            continue
        assert got[m][0] == expect, m
    assert got["Example Standards Body"][1] == "exact"
    assert got["Example standards body"][1] == "fuzzy"


def test_top_terms_per_doc(spark):
    """tf·idf with raw-inverse idf: a corpus-wide word scores low, a
    doc-unique word scores high; rank ties break on the term string."""
    import pandas as pd
    from ferenda_spark.operators.textops import top_terms_per_doc
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3],
                      "text": ["common rare1 rare1 common",
                               "common rare2",
                               "common filler"]}),
        schema="doc_id long, text string")
    out = top_terms_per_doc(docs, k=2).collect()
    by = {}
    for r in out:
        by.setdefault(r.doc_id, []).append(r)
    # doc1: rare1 tf=2 df=1 → score 6.0 beats common tf=2 df=3 → 2.0
    assert by[1][0].term == "rare1" and by[1][0].score == 6.0
    assert by[1][1].term == "common" and by[1][1].score == 2.0
    assert by[2][0].term == "rare2"
    assert all(r.rank <= 2 for rs in by.values() for r in rs)


def test_null_text_and_unicode_ws_parity(spark, duck):
    """Code-review regressions: NULL text rows and non-ASCII
    whitespace behave identically in language_id and its SQL twin (Java/RE2 \\s is ASCII-only; str.split() is not)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from ferenda_spark.operators import textops
    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": [None, "foo bar baz", "plain words here"]})
    df = spark.createDataFrame(pdf, schema="doc_id long, text string")
    duck.register("nulldocs", pdf)
    spdf = textops.language_id(df).toPandas()
    odf = duck.sql(textops.oracle_sql_language_id("nulldocs")).df()
    cols = sorted(spdf.columns)
    a = (spdf[cols].astype(str).sort_values(by=cols)
         .reset_index(drop=True))
    b = (odf[cols].astype(str).sort_values(by=cols)
         .reset_index(drop=True))
    pd.testing.assert_frame_equal(a, b)
    # the U+00A0 word must stay ONE token (ASCII-only \s)
    n_words = {r.doc_id: r.n for r in df.select(
        "doc_id", F.size(textops.words_col(F.col("text"))).alias("n"))
        .collect()}
    assert n_words[2] == 2 and n_words[1] == 0


def test_line_dedup_semantics(spark):
    """Eligible (>=5-word) duplicate lines survive only at the lowest
    (doc_id, pos) corpus-wide — including intra-document repeats —
    while short lines are kept everywhere; reassembly preserves line
    order and fully-deduped tails shrink counts."""
    import pandas as pd
    from ferenda_spark.operators.dedup import line_dedup
    boiler = "repeated line with five words here"
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3],
                      "text": [f"alpha beta gamma delta epsilon\nshort\n{boiler}",
                               f"{boiler}\nunique second doc line with words",
                               f"short\n{boiler}\n{boiler}"]}),
        schema="doc_id long, text string")
    out = {r.doc_id: r for r in line_dedup(df).collect()}
    assert out[1].clean_text == (
        f"alpha beta gamma delta epsilon\nshort\n{boiler}")
    assert (out[1].n_lines, out[1].n_dropped) == (3, 0)
    assert out[2].clean_text == "unique second doc line with words"
    assert (out[2].n_lines, out[2].n_dropped) == (2, 1)
    assert out[3].clean_text == "short"
    assert (out[3].n_lines, out[3].n_dropped) == (3, 2)


def test_line_dedup_driver_parity(spark, duck):
    """The driver query (deterministic boilerplate injection + line
    dedup) against its DuckDB twin — the same pair the gate runs."""
    import __spark_entry__ as E
    assert_parity(E.queries()["dedup_lines"](spark, SF_DIR),
                  duck, E.oracle_sql()["dedup_lines"])


def test_duplicate_window_stats_semantics(spark):
    """Window duplication counts cross-document AND intra-document
    repeats; dup_tokens is merged-interval coverage, not window-count
    times k; short documents report zero windows."""
    import pandas as pd
    from ferenda_spark.operators.dedup import duplicate_window_stats
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 4],
                      "text": ["a b c d e",
                               "x a b c d y",
                               "z z z z",
                               "too short"]}),
        schema="doc_id long, text string")
    out = {r.doc_id: r for r in
           duplicate_window_stats(df, k=3).collect()}
    # d1 windows abc bcd cde; d2 shares abc bcd → overlapping dups
    # merge to 4 covered tokens on each side
    assert (out[1].n_tokens, out[1].n_windows,
            out[1].n_dup_windows, out[1].dup_tokens) == (5, 3, 2, 4)
    assert (out[2].n_tokens, out[2].n_windows,
            out[2].n_dup_windows, out[2].dup_tokens) == (6, 4, 2, 4)
    # d3's two zzz windows duplicate EACH OTHER (intra-document)
    assert (out[3].n_tokens, out[3].n_windows,
            out[3].n_dup_windows, out[3].dup_tokens) == (4, 2, 2, 4)
    assert (out[4].n_tokens, out[4].n_windows,
            out[4].n_dup_windows, out[4].dup_tokens) == (2, 0, 0, 0)


def test_duplicate_window_driver_parity(spark, duck):
    import __spark_entry__ as E
    assert_parity(E.queries()["dedup_windows"](spark, SF_DIR),
                  duck, E.oracle_sql()["dedup_windows"])


def test_related_docs_semantics(spark):
    from ferenda_spark.operators.textops import related_docs
    rows = [(1, "apple banana apple cherry"),
            (2, "apple banana apple"),
            (3, "cherry cherry durian"),
            (4, "unrelated words only")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = related_docs(df, k_terms=3, k_out=5).toPandas()
    by_doc = {d: list(g["related_id"])
              for d, g in out.groupby("doc_id")}
    # d1 shares apple(2·2)+banana(1·1)=5 with d2, cherry(1·2)=2 with d3
    assert by_doc[1] == [2, 3]
    sims = out.set_index(["doc_id", "related_id"])["sim"]
    assert sims[(1, 2)] == 5 and sims[(1, 3)] == 2
    assert by_doc[2] == [1] and by_doc[3] == [1]
    # d4 shares nothing → no rows at all
    assert 4 not in by_doc


def test_related_docs_driver_parity(spark, duck):
    import __spark_entry__ as E
    assert_parity(E.queries()["related_docs"](spark, SF_DIR), duck,
                  E.oracle_sql()["related_docs"])


def test_anchor_text_stats_semantics(spark):
    from ferenda_spark.operators.textops import anchor_text_stats
    docs = spark.createDataFrame(
        [(1, 'x <a href="https://t.com/a" rel="nofollow">Click  HERE</a>'
             ' y <a href="https://t.com/a">other</a>'),
         (2, '<a href="https://t.com/a">click here</a>'
             ' <a href="https://t.com/b"></a>'),     # empty → dropped
         (3, 'no links here'),
         (4, None)],
        "doc_id int, text string")
    out = {r["target"]: r for r in anchor_text_stats(docs).collect()}
    # https://t.com/b only carries an empty anchor → absent entirely
    assert set(out) == {"https://t.com/a"}
    r = out["https://t.com/a"]
    # "Click  HERE" normalizes (collapse + trim + lower) to the same
    # anchor as doc 2's — 2 votes beat "other"'s 1
    assert r["top_anchor"] == "click here"
    assert r["n_anchors"] == 3 and r["n_docs"] == 2


def test_anchor_stats_driver_parity(spark, duck):
    import __spark_entry__ as E
    assert_parity(E.queries()["anchor_stats"](spark, SF_DIR), duck,
                  E.oracle_sql()["anchor_stats"])
    out = E.queries()["anchor_stats"](spark, SF_DIR).toPandas()
    # the hub target aggregates the case-variant anchors into one
    hub = out[out["target"] == "https://hub.example.com/"]
    assert len(hub) == 1 and hub.iloc[0]["top_anchor"] == "the hub"
    # the empty-anchor image link never appears
    assert not (out["target"] == "https://img.example.com/i.png").any()


def test_page_metadata_semantics(spark):
    from ferenda_spark.operators.textops import page_metadata
    docs = spark.createDataFrame(
        [(1, '<head><title> A  B </title>'
             '<link href="https://c.com/x" rel="canonical">'
             '<meta content="Og T" property="og:title">'
             '<meta name="description" content="">'
             '<meta charset="utf-8"></head>body'),
         (2, "no head at all"),
         (3, None)],
        "doc_id int, text string")
    out = {r["doc_id"]: r for r in page_metadata(docs).collect()}
    r = out[1]
    assert r["title"] == "A B"                 # collapse + trim
    assert r["canonical"] == "https://c.com/x"  # href BEFORE rel
    assert r["og_title"] == "Og T"              # content BEFORE property
    assert r["description"] is None             # empty content → NULL
    assert r["n_meta"] == 3
    assert out[2]["title"] is None and out[2]["n_meta"] == 0
    assert out[3]["n_meta"] == 0


def test_page_metadata_driver_parity(spark, duck):
    import __spark_entry__ as E
    assert_parity(E.queries()["page_metadata"](spark, SF_DIR), duck,
                  E.oracle_sql()["page_metadata"])
    out = E.queries()["page_metadata"](spark, SF_DIR).toPandas()
    assert out["title"].notna().all()
    assert out["og_image"].isna().all()         # never injected
    assert out["canonical"].notna().sum() == (out["doc_id"] % 2 == 0).sum()


def test_minhash_dedup_delta_semantics(spark):
    from ferenda_spark.operators.dedup import minhash_dedup_delta
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    corpus = spark.createDataFrame(
        [(1, base), (2, "totally different words live here entirely "
                        "apart from anything else in this corpus")],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(101, base + " tail"),          # near-dup of corpus doc 1
         (102, base + " tail"),          # exact dup of batch doc 101
         (103, "unique fresh content nothing matches this one at all "
               "anywhere in corpus or batch today")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           minhash_dedup_delta(corpus, batch).collect()}
    assert out[101]["is_dup"] and out[101]["dup_of"] == 1
    # 102 matches corpus doc 1 (high J) AND batch doc 101 (J=1.0):
    # best = max sim → the earlier batch doc
    assert out[102]["is_dup"] and out[102]["dup_of"] == 101
    assert out[102]["jaccard_sim"] == 1.0
    assert not out[103]["is_dup"] and out[103]["dup_of"] is None


def test_dedup_delta_driver_parity(spark, duck):
    import __spark_entry__ as E
    assert_parity(E.queries()["dedup_delta"](spark, SF_DIR), duck,
                  E.oracle_sql()["dedup_delta"])
    out = E.queries()["dedup_delta"](spark, SF_DIR).toPandas()
    recrawled = out[out["doc_id"] < 2000000]
    novel = out[out["doc_id"] >= 2000000]
    # every re-crawled doc is caught against its corpus original
    assert recrawled["is_dup"].all()
    assert (recrawled["dup_of"] == recrawled["doc_id"] - 1000000).all()
    # novel docs match nothing in the corpus; template self-overlap
    # within the batch stays under the 0.5 threshold
    assert (~novel["is_dup"]).all()


def test_completeness_report_grid(spark):
    from ferenda_spark.namespaces import RDF_TYPE
    from ferenda_spark.operators.validate import completeness_report
    EX = "http://example.org/"
    rows = [("p1", RDF_TYPE, EX + "Product", "uri"),
            ("p2", RDF_TYPE, EX + "Product", "uri"),
            ("o1", RDF_TYPE, EX + "Org", "uri"),
            ("p1", EX + "price", "9", "literal"),
            ("p1", EX + "price", "10", "literal"),   # multiplicity ≠ cover
            ("o1", EX + "name", "x", "literal")]
    df = spark.createDataFrame(
        rows, "subject string, predicate string, object string, "
              "objtype string")
    got = {(r["cls"], r["predicate"]): (r["n_subjects"], r["n_with"],
                                        r["coverage"])
           for r in completeness_report(df).collect()}
    assert got[(EX + "Product", EX + "price")] == (2, 1, 0.5)
    assert got[(EX + "Product", EX + "name")] == (2, 0, 0.0)   # zero-fill
    assert got[(EX + "Org", EX + "name")] == (1, 1, 1.0)
    assert len(got) == 4                                       # 2 cls × 2 preds


def test_containment_semantics(spark):
    from ferenda_spark.operators.dedup import containment_pairs
    # b quotes all of a (plus more); c is unrelated. Direction
    # matters: a→b qualifies at 0.8, b→a does not.
    rows = [(1, "alpha beta gamma delta epsilon zeta"),
            (2, "intro words alpha beta gamma delta epsilon zeta "
                "and a very long tail of unrelated filler content "
                "continuing on and on for many more words"),
            (3, "totally different text about other things entirely "
                "with no overlap at all here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["a_id"], r["b_id"]): r["containment"]
           for r in containment_pairs(df, threshold=0.8).collect()}
    assert got == {(1, 2): 1.0}


def test_containment_prefix_filter_complete(spark, duck):
    """Prefix-filtered candidates + exact verify must equal the
    brute-force all-directed-pairs twin (completeness of the
    rarity-prefix bound)."""
    from ferenda_spark.operators.dedup import (containment_pairs,
                                               oracle_sql_containment)
    # threshold 0.5 stresses the bound harder (longer prefixes, more
    # qualifying pairs) than the driver query's 0.8
    assert_parity(containment_pairs(docs(spark), threshold=0.5), duck,
                  oracle_sql_containment(threshold=0.5))


