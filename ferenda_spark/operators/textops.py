"""Text operators over document text: language ID, per-document
keywords and related documents, anchor-text and head-metadata
extraction, plus the whitespace tokenization (``words_col`` /
``py_words`` / ``WS_SPLIT``) that dedup and the sketch queries share.

Everything here is built from native ``pyspark.sql.functions`` column
expressions — no Python UDFs — so the work stays inside whole-stage
codegen on executors and the same logic is expressible as ANSI SQL for
the DuckDB oracle. The reference's analog surface is the facet
selector/key scalar functions and fulltext plumbing
(ref ferenda/facet.py:128-338, ferenda/fulltextindex.py:120-152).

Scale notes: language ID and head-metadata extraction are per-row
projections — no shuffle, no skew sensitivity; they scale linearly
with executor count and pipeline with the parquet scan (predicate
pushdown + column pruning intact). The keyword and anchor operators
document their own shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny function-word lists for the n-gram/stopword language heuristic.
# Deterministic and public-knowledge; mirrors classic stopword-ratio
# language guessers. Keep SHORT so the SQL oracle can inline them.
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "a"],
    "de": ["der", "die", "das", "und", "nicht", "ist", "ein", "mit", "zu", "den"],
    "fr": ["le", "la", "les", "et", "des", "est", "une", "dans", "pour", "que"],
    "es": ["el", "la", "los", "de", "y", "que", "en", "un", "por", "con"],
    "sv": ["och", "att", "det", "som", "en", "av", "för", "med", "till", "den"],
}

# Java's \s is [ \t\n\x0b\f\r]; RE2's (DuckDB's regex engine) \s
# EXCLUDES \x0b (vertical tab). Every pattern shared across the two
# engines therefore spells the class out explicitly — texts containing
# a VT cannot make the twins diverge (ADVICE r3). The doubled
# backslashes survive into the pattern text, where both engines parse
# \t/\n/\x0b/\f/\r identically.
WS_CLASS = " \\t\\n\\x0b\\f\\r"
WS_SPLIT = "[%s]+" % WS_CLASS           # the \s+ twin


def words_col(text: Column) -> Column:
    """Whitespace word split (NULL/empty string → empty array)."""
    t = F.trim(F.coalesce(text, F.lit("")))
    return F.when(t == "", F.array().cast("array<string>")) \
            .otherwise(F.split(t, WS_SPLIT))


# The Python fold twin splits on exactly the same ASCII class
# (str.split() also breaks on U+00A0 etc., silently diverging from the
# SQL twin)
import re as _re

_ASCII_WS = _re.compile(r"[ \t\n\x0b\f\r]+")


def py_words(text: str | None) -> list[str]:
    """Pure-Python twin of :func:`words_col` (trim = ASCII-space strip
    like Spark/DuckDB trim(); split keeps the leading empty token a
    leading tab would produce, exactly like split on WS_SPLIT)."""
    t = (text or "").strip(" ")
    return _ASCII_WS.split(t) if t else []


def language_id(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Stopword-ratio language guess over LANG_MARKERS.

    Emits per-language marker-hit counts and the argmax language
    (ties broken by fixed language order). A deterministic heuristic —
    the point is the operator (vectorized scoring + argmax), not SOTA
    language ID; swap the marker lists for fastText at production scale.
    """
    words = words_col(F.lower(F.col(text_col)))
    def marker_hits(markers):
        arr = F.array(*[F.lit(w) for w in markers])
        return F.size(F.filter(words, lambda w: F.array_contains(arr, w)))

    scores = [(code, marker_hits(LANG_MARKERS[code]))
              for code in sorted(LANG_MARKERS)]
    # argmax with deterministic tie-break: max (hits, reversed-name) pair
    best = F.greatest(*[F.struct(h.alias("h"),
                                 F.lit(code).alias("code"))
                        for code, h in scores])
    out = df.select(F.col(id_col),
                    *[h.alias("hits_" + code) for code, h in scores],
                    F.when(best["h"] > 0, best["code"])
                     .otherwise(F.lit("und")).alias("lang_guess"))
    return out


def _sql_words(expr: str = "trim(coalesce(text, ''))") -> str:
    return f"regexp_split_to_array({expr}, '{WS_SPLIT}')"


_LOWER_TEXT = "lower(trim(coalesce(text, '')))"


def oracle_sql_language_id(table: str = "documents") -> str:
    hit_cols = []
    for code in sorted(LANG_MARKERS):
        lst = "[" + ",".join("'%s'" % w for w in LANG_MARKERS[code]) + "]"
        hit_cols.append(
            f"len(list_filter(words, w -> list_contains({lst}, w))) AS hits_{code}")
    codes = sorted(LANG_MARKERS)
    m = "greatest(%s)" % ", ".join("hits_" + c for c in codes)
    # tie-break = max code string (mirrors Spark greatest over (h, code)
    # structs): test codes in DESCENDING order
    pick = " ".join(f"WHEN hits_{c} = m THEN '{c}'"
                    for c in sorted(codes, reverse=True))
    return f"""
    WITH base AS (
      SELECT doc_id,
             CASE WHEN trim(coalesce(text, ''))='' THEN []::varchar[]
                  ELSE {_sql_words(_LOWER_TEXT)} END AS words
      FROM {table}
    ), hits AS (
      SELECT doc_id, {", ".join(hit_cols)} FROM base
    ), best AS (
      SELECT *, {m} AS m FROM hits
    )
    SELECT doc_id, {", ".join("hits_" + c for c in codes)},
           CASE WHEN m = 0 THEN 'und' {pick} END AS lang_guess
    FROM best
    """


def top_terms_per_doc(df: DataFrame, k: int = 5, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Per-document keyword extraction: top-``k`` terms by tf·idf with
    the raw-inverse idf (score = tf · N/df). The log-free idf keeps the
    score a product/quotient of exact integers — bit-identical across
    engines (ln() differs in the last ulp between libm and the JVM,
    which would flip ranks on near-ties).

    → (doc_id, term, tf, df, score, rank), rank 1..k per document,
    ties broken by the term string.

    Scale shape: explode → (doc, term) count with map-side partial
    combine (one shuffle); df aggregates FROM the tf table (already
    unique per (doc, term) — no second pass over the corpus); N is a
    broadcast 1-row aggregate; the per-doc top-k is a window over the
    doc-hash partitioning the tf count already produced.
    """
    words = words_col(F.col(text_col))
    ex = df.select(F.col(id_col), F.explode(words).alias("term"))
    tf = ex.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (tf.join(dfreq, "term")
              .crossJoin(F.broadcast(n))
              .withColumn("score",
                          F.round(F.col("tf") *
                                  (F.col("n_docs").cast("double") /
                                   F.col("df").cast("double")), 6)))
    from pyspark.sql import Window
    w = Window.partitionBy(id_col).orderBy(F.desc("score"),
                                           F.asc("term"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(id_col, "term", "tf", "df", "score", "rank")
            .orderBy(id_col, "rank"))


def oracle_sql_top_terms(table: str = "documents", k: int = 5) -> str:
    return f"""
    WITH base AS (
      SELECT doc_id,
             CASE WHEN trim(coalesce(text, ''))='' THEN []::varchar[]
                  ELSE {_sql_words()} END AS words
      FROM {table}
    ),
    ex AS (SELECT doc_id, unnest(words) AS term FROM base),
    tf AS (SELECT doc_id, term, count(*)::bigint AS tf
           FROM ex GROUP BY doc_id, term),
    dfreq AS (SELECT term, count(*)::bigint AS df FROM tf GROUP BY term),
    n AS (SELECT count(*)::bigint AS n_docs FROM {table}),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             round(tf.tf * (n.n_docs::double / dfreq.df::double), 6)
               AS score
      FROM tf JOIN dfreq USING (term) CROSS JOIN n),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, term) AS rank
      FROM scored)
    SELECT doc_id, term, tf, df, score, rank
    FROM ranked WHERE rank <= {k} ORDER BY doc_id, rank
    """


def related_docs(df: DataFrame, k_terms: int = 5, k_out: int = 5,
                 max_postings: int | None = 100, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """More-like-this: per document, the top-``k_out`` most similar
    documents by shared keywords (the fulltext "related documents"
    feature; candidate terms are each doc's top-``k_terms`` tf·idf
    keywords from :func:`top_terms_per_doc`).

    → (doc_id, related_id, shared_terms, sim, rank). The similarity
    is Σ over shared keywords of tf_a·tf_b — integer on purpose:
    float tf·idf dot products sum in engine-dependent order and can
    flip ranks on near-ties, while int64 sums are bit-exact in any
    order. The idf weighting lives in the keyword SELECTION (ubiquitous
    terms don't make a doc's top-k), not the score.

    Scale shape: the keyword table is k_terms rows per doc and is
    localCheckpointed ONCE (both sides of the self-join read the
    materialized table — without it Spark recomputes the tf·idf
    subtree twice). idf selection alone does NOT bound posting lists
    on a domain-homogeneous corpus (measured on the sf0.1 driver
    corpus: the keyword 'agg' makes the top-5 of 1331/5000 documents,
    blowing the term self-join up to 22M pairs from 25k keyword rows —
    25.3 s; a quadratic scale-killer at 100×). The CANDIDATE side of
    the join is therefore capped to each term's top-``max_postings``
    postings by (tf desc, doc_id) — the Elasticsearch MoreLikeThis
    candidate-capping move: a hot term still links documents, but only
    to the docs where it matters most. Every document remains a query
    (the a-side is uncapped), total pair work is ≤ keyword_rows ×
    max_postings (LINEAR in the corpus), and the documented trade is
    that a related doc ranking below the cap on every shared term is
    missed. One term-keyed shuffle + one (a,b)-keyed aggregate + the
    per-doc window.
    """
    from pyspark.sql import Window
    tt = (top_terms_per_doc(df, k=k_terms, id_col=id_col,
                            text_col=text_col)
          .select(F.col(id_col).alias("a_id"), "term",
                  F.col("tf").alias("tf_a"))
          .localCheckpoint(eager=True))
    cand = tt
    if max_postings is not None:
        wp = Window.partitionBy("term").orderBy(F.desc("tf_a"),
                                                F.asc("a_id"))
        cand = (tt.withColumn("__pr", F.row_number().over(wp))
                .where(F.col("__pr") <= max_postings).drop("__pr"))
    other = cand.select(F.col("a_id").alias("b_id"), "term",
                        F.col("tf_a").alias("tf_b"))
    pairs = (tt.join(other, "term")
             .where(F.col("a_id") != F.col("b_id"))
             .groupBy("a_id", "b_id")
             .agg(F.count(F.lit(1)).alias("shared_terms"),
                  F.sum(F.col("tf_a") * F.col("tf_b")).alias("sim")))
    w = Window.partitionBy("a_id").orderBy(
        F.desc("sim"), F.desc("shared_terms"), F.asc("b_id"))
    return (pairs.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k_out)
            .select(F.col("a_id").alias("doc_id"),
                    F.col("b_id").alias("related_id"),
                    "shared_terms", "sim", "rank")
            .orderBy("doc_id", "rank"))


def oracle_sql_related_docs(table: str = "documents", k_terms: int = 5,
                            k_out: int = 5,
                            max_postings: int | None = 100) -> str:
    cand = "tt"
    if max_postings is not None:
        cand = ("(SELECT a_id, term, tf_a FROM ("
                "SELECT *, row_number() OVER (PARTITION BY term "
                "ORDER BY tf_a DESC, a_id) AS pr FROM tt) "
                "WHERE pr <= %d)" % max_postings)
    return f"""
    WITH sel AS ({oracle_sql_top_terms(table, k_terms)}),
    tt AS (SELECT doc_id AS a_id, term, tf AS tf_a FROM sel),
    p AS (
      SELECT tt.a_id, o.a_id AS b_id,
             count(*)::bigint AS shared_terms,
             sum(tt.tf_a * o.tf_a)::bigint AS sim
      FROM tt JOIN {cand} o USING (term)
      WHERE tt.a_id <> o.a_id
      GROUP BY tt.a_id, o.a_id),
    r AS (
      SELECT *, row_number() OVER (
        PARTITION BY a_id
        ORDER BY sim DESC, shared_terms DESC, b_id) AS rank
      FROM p)
    SELECT a_id AS doc_id, b_id AS related_id, shared_terms, sim, rank
    FROM r WHERE rank <= {k_out} ORDER BY doc_id, rank
    """


# <a href="…">text</a> — capture group 1 = target, group 2 = anchor
# text; no backrefs, so the same pattern runs in Java regex (Spark)
# and RE2 (DuckDB)
ANCHOR_RE = '<a [^>]*href="([^"]+)"[^>]*>([^<]*)</a>'


def anchor_text_stats(df: DataFrame, html_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Anchor-text aggregation — the classic web-graph ranking signal
    (how the web describes a page): for every link target across the
    corpus, the anchor frequency census and the most common anchor
    text. → (target, n_anchors, n_docs, top_anchor), ordered by
    (n_anchors DESC, target).

    Anchor texts are whitespace-collapsed, trimmed, lower-cased;
    empty anchors (image links etc.) are dropped. The reference mines
    intra-corpus citation URIs (operators/citations.py) — this is the
    inbound-description analog over raw page HTML.

    Scale notes: tag extraction + explode are narrow codegen; the
    (target, anchor) count is a two-level hash agg with map-side
    combine — hub targets (the whole point of the signal) reduce
    map-side before the one shuffle on target-keyed hashes; the
    per-target arg-max is a second, already-small agg, and
    countDistinct(doc) expands to the standard two-round expand agg.
    No UDFs, nothing on the driver.
    """
    tags = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.regexp_extract_all(
            F.coalesce(F.col(html_col), F.lit("")),
            F.lit(ANCHOR_RE), 0)).alias("tag"))
    anchor = F.lower(F.trim(F.regexp_replace(
        F.regexp_extract(F.col("tag"), ANCHOR_RE, 2), r"\s+", " ")))
    pairs = (tags.select(
        F.regexp_extract(F.col("tag"), ANCHOR_RE, 1).alias("target"),
        anchor.alias("anchor"), "doc")
        .where(F.col("anchor") != ""))
    per_pair = (pairs.groupBy("target", "anchor")
                .agg(F.count(F.lit(1)).alias("c")))
    top = (per_pair.groupBy("target")
           .agg(F.min(F.struct((-F.col("c")).alias("nc"),
                               F.col("anchor").alias("anchor")))
                .alias("best"))
           .select("target", F.col("best.anchor").alias("top_anchor")))
    totals = (pairs.groupBy("target")
              .agg(F.count(F.lit(1)).alias("n_anchors"),
                   F.countDistinct("doc").alias("n_docs")))
    return (totals.join(top, "target")
            .select("target", "n_anchors", "n_docs", "top_anchor")
            .orderBy(F.desc("n_anchors"), "target"))


def oracle_sql_anchor_stats(table: str = "documents",
                            html_expr: str = "coalesce(text, '')") -> str:
    """DuckDB twin of :func:`anchor_text_stats` (same single pattern
    through RE2, same tie-break)."""
    return f"""
    WITH tags AS (
      SELECT doc_id AS doc,
             unnest(regexp_extract_all({html_expr}, '{ANCHOR_RE}'))
               AS tag
      FROM {table}),
    pairs AS (
      SELECT regexp_extract(tag, '{ANCHOR_RE}', 1) AS target,
             lower(trim(regexp_replace(
               regexp_extract(tag, '{ANCHOR_RE}', 2), '\\s+', ' ', 'g')))
               AS anchor,
             doc
      FROM tags),
    nonempty AS (SELECT * FROM pairs WHERE anchor <> ''),
    per_pair AS (
      SELECT target, anchor, count(*) AS c
      FROM nonempty GROUP BY target, anchor),
    top AS (
      SELECT target, anchor AS top_anchor FROM (
        SELECT target, anchor,
               row_number() OVER (PARTITION BY target
                                  ORDER BY c DESC, anchor ASC) AS rn
        FROM per_pair) q
      WHERE rn = 1),
    totals AS (
      SELECT target, count(*)::bigint AS n_anchors,
             count(DISTINCT doc)::bigint AS n_docs
      FROM nonempty GROUP BY target)
    SELECT t.target, t.n_anchors, t.n_docs, top.top_anchor
    FROM totals t JOIN top USING (target)
    ORDER BY n_anchors DESC, target
    """


_META_TAG_RE = "<meta [^>]*>"
_LINK_TAG_RE = "<link [^>]*>"
_TITLE_RE = "<title[^>]*>([^<]*)</title>"
_CONTENT_RE = 'content="([^"]*)"'
_HREF_RE = 'href="([^"]*)"'


def page_metadata(df: DataFrame, html_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Head-metadata extraction over raw page HTML — the fields a
    Common-Crawl-style KG/curation pipeline reads before (or instead
    of) a full parse: <title>, rel=canonical (the dedup key
    for refetched pages), meta description, og:title / og:image, and
    the meta-tag census. Attribute ORDER inside a tag is free: tags
    are captured whole, the attribute of interest is then extracted
    from the tag — so <meta content=… property=…> matches too.

    → (doc_id, title, canonical, description, og_title, og_image,
    n_meta); absent fields are NULL, extracted values trimmed with
    whitespace collapsed.

    Scale notes: pure codegen (regexp_extract_all + array lambdas +
    F.get — NULL, not an ANSI error, on no-match), no explode, no
    shuffle, no UDF; runs at scan speed and projects before any
    downstream exchange.
    """
    html = F.coalesce(F.col(html_col), F.lit(""))

    def norm(c):
        return F.nullif(F.trim(F.regexp_replace(c, r"\s+", " ")),
                        F.lit(""))

    def from_tags(tags, marker_re, value_re):
        tag = F.get(F.filter(tags, lambda t: t.rlike(marker_re)), 0)
        return norm(F.regexp_extract(tag, value_re, 1))

    metas = F.regexp_extract_all(html, F.lit(_META_TAG_RE), 0)
    links = F.regexp_extract_all(html, F.lit(_LINK_TAG_RE), 0)
    return df.select(
        F.col(id_col),
        norm(F.get(F.regexp_extract_all(html, F.lit(_TITLE_RE), 1), 0))
        .alias("title"),
        from_tags(links, 'rel="canonical"', _HREF_RE).alias("canonical"),
        from_tags(metas, 'name="description"', _CONTENT_RE)
        .alias("description"),
        from_tags(metas, 'property="og:title"', _CONTENT_RE)
        .alias("og_title"),
        from_tags(metas, 'property="og:image"', _CONTENT_RE)
        .alias("og_image"),
        F.size(metas).cast("long").alias("n_meta")).orderBy(id_col)


def oracle_sql_page_metadata(table: str = "documents",
                             html_expr: str = "coalesce(text, '')"
                             ) -> str:
    """DuckDB twin of :func:`page_metadata` — same tag-then-attribute
    two-step, same normalization ('' → NULL)."""
    def norm(c):
        return ("nullif(trim(regexp_replace(%s, '\\s+', ' ', 'g')), '')"
                % c)

    def from_tags(tags, marker_re, value_re):
        tag = ("list_filter(%s, t -> regexp_matches(t, '%s'))[1]"
               % (tags, marker_re))
        return norm("regexp_extract(%s, '%s', 1)" % (tag, value_re))

    metas = "regexp_extract_all({0}, '{1}')".format(html_expr,
                                                    _META_TAG_RE)
    links = "regexp_extract_all({0}, '{1}')".format(html_expr,
                                                    _LINK_TAG_RE)
    title = norm("regexp_extract_all({0}, '{1}', 1)[1]".format(
        html_expr, _TITLE_RE))
    return f"""
    SELECT doc_id,
           {title} AS title,
           {from_tags(links, 'rel="canonical"', _HREF_RE)} AS canonical,
           {from_tags(metas, 'name="description"', _CONTENT_RE)}
             AS description,
           {from_tags(metas, 'property="og:title"', _CONTENT_RE)}
             AS og_title,
           {from_tags(metas, 'property="og:image"', _CONTENT_RE)}
             AS og_image,
           len({metas})::BIGINT AS n_meta
    FROM {table} ORDER BY doc_id
    """


