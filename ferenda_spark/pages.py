"""Deterministic synthetic ``pages`` corpus.

Input-table contract (BASELINE.json input_hint):
``pages(url string, warc_ts timestamp, html binary, text string,
lang string)`` — Common-Crawl-style web pages. The generator is seeded
and pure-per-index, so it scales out as a ``mapInPandas`` over
``spark.range(n)`` and re-generates identical rows at any parallelism.

Document families mirror the reference's fixture corpus (FIXTURES.md §2):

- F1 minimal HTML docs (with/without <title>/@lang)
  ← test/files/base/downloaded/123/a-version{1,2}.htm
- F2 RDFa-sectioned HTML docs with @about sub-resources
  ← test/files/base/parsed/123/a.xhtml + distilled/123/a.ttl
- F3 RFC-style plaintext docs (two-column header, preamble, numbered
  sections, citations) ← test/files/repo/rfc/*
- F7 scale filler: heading-segmented HTML from the same grammar, with a
  hot-host URL skew (one host ≫ others) for salting/AQE tests

Cross-document structure is index-arithmetic so oracles can predict it:
F3 doc i cites rfc number of doc (i*7+3) mod n; F2 doc i mints an
owl:sameAs alias chain (i → i-1 when i%10 in (1,2)) and a hub alias
(i → 0 when i%20 == 2), so doc 0's resource accumulates high fan-in.
"""

from __future__ import annotations

import datetime
import random

from .uris import RepoConfig

VOCAB = ("data query scan table join merge filter window batch stream key "
         "value row column vector hash sort group order part small big fast "
         "slow spark agg line customer the a").split()

EPOCH = datetime.datetime(2014, 1, 4, 0, 0, 0)

PUBLISHERS = [
    ("Example Standards Body", "http://example.org/ext/esb"),
    ("Web Engineering Group (WEG)", "http://example.org/ext/weg"),
    ("Publishing & sons", "http://example.org/ext/pubsons"),
    ("Institute of Document Science", "http://example.org/ext/ids"),
]
# near-miss spellings exercising the difflib cutoff=0.8 path (FIXTURES F6)
PUBLISHER_VARIANTS = {
    0: ["Example Standards Body", "Example standards body"],
    1: ["Web Engineering Group (WEG)", "Web Engineering Group"],
    2: ["Publishing & sons", "Publishing and sons"],
    3: ["Institute of Document Science", "Institute of Document Sciences"],
}
CATEGORIES = [
    ("Standards Track", "http://example.org/dataset/doc/standard"),
    ("Informational", "http://example.org/dataset/doc/informational"),
    ("Experimental", "http://example.org/dataset/doc/experimental"),
]

COMMONDATA = {}
for _label, _uri in PUBLISHERS:
    COMMONDATA[("foaf:name", _label)] = _uri
for _label, _uri in CATEGORIES:
    COMMONDATA[("bibo:identifier", _label)] = _uri

BASE_URL = "http://example.org/"
# the repository every page's URIs are minted under
CFG = RepoConfig(alias="doc", url=BASE_URL)
HOT_HOST = "http://hot.example.org/"


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(n))


def _sentence(rng: random.Random) -> str:
    s = _words(rng, rng.randint(6, 14))
    return s[0].upper() + s[1:] + "."


def _paragraph(rng: random.Random, indent: str = "") -> str:
    return "\n".join(indent + _words(rng, 9) for _ in range(rng.randint(2, 4)))


def family_of(i: int) -> str:
    m = i % 10
    if m < 1:
        return "f1"
    if m < 4:
        return "f2"
    if m < 7:
        return "f3"
    return "f7"


def doc_url(i: int, n: int) -> str:
    fam = family_of(i)
    if fam == "f3":
        return "%sdoc/%d.txt" % (BASE_URL, i)
    # hot-host skew: a third of f7 urls land on one host
    # (i%10==7 ⊂ f7's residues {7,8,9}; the round-1 condition i%5==0
    # could never hold for f7 and produced no skew at all)
    if fam == "f7" and i % 10 == 7:
        return "%sdoc/%d.html" % (HOT_HOST, i)
    return "%sdoc/%d.html" % (BASE_URL, i)


def doc_uri(i: int) -> str:
    return "http://example.org/res/doc/%d" % i


def _f1_html(i: int, rng: random.Random) -> str:
    if i % 20 == 0:  # title-less, lang-less variant (3-triple minimal graph)
        return ("<html>\n<head></head>\n<body>\n<p>%s</p>\n</body>\n</html>"
                % _sentence(rng))
    return ("<html lang=\"en-GB\">\n<head><title>Document %d</title></head>\n"
            "<body>\n<p>%s</p>\n<p>%s</p>\n</body>\n</html>"
            % (i, _sentence(rng), _sentence(rng)))


def _f2_html(i: int, n: int, rng: random.Random) -> str:
    uri = doc_uri(i)
    pub_idx = i % len(PUBLISHERS)
    pub_uri = PUBLISHERS[pub_idx][1]
    issued = (EPOCH + datetime.timedelta(days=i % 365)).date().isoformat()
    sameas = ""
    if i % 10 in (1, 2) and i > 0:
        sameas = '<link rel="owl:sameAs" href="%s"/>' % doc_uri(i - 1)
    if i % 20 == 2 and i > 0:  # hub: high fan-in on doc 0 (FIXTURES F6)
        sameas += '<link rel="owl:sameAs" href="%s"/>' % doc_uri(0)
    nsec = 1 + (i % 3)
    sections = []
    for s in range(1, nsec + 1):
        sub = ""
        if s == 1:
            sub = ('<div about="%s#S1.1">'
                   '<span property="dcterms:title" content="Sub %d.1.1" lang=""/>'
                   '<span about="%s#S1.1" typeof="bibo:DocumentPart"/>'
                   '<span rel="dcterms:isPartOf" href="%s#S1" about="%s#S1.1"/>'
                   '<p>%s</p></div>'
                   % (uri, i, uri, uri, uri, _sentence(rng)))
        sections.append(
            '<div about="%s#S%d" typeof="bibo:DocumentPart">'
            '<span property="dcterms:title" content="Part %d.%d" lang=""/>'
            '<span rel="dcterms:isPartOf" href="%s" about="%s#S%d"/>'
            '<p>%s</p>%s</div>'
            % (uri, s, i, s, uri, uri, s, _sentence(rng), sub))
    return ("""<html xml:lang="en">
<head about="%s">
<title property="dcterms:title">Example document %d</title>
<meta property="dcterms:identifier" content="DOC(%d)" lang=""/>
<meta property="dcterms:issued" content="%s" datatype="xsd:date"/>
<link rel="dcterms:publisher" href="%s"/>
%s
</head>
<body about="%s" typeof="bibo:Standard">
<p>%s</p>
%s
<p>%s</p>
</body>
</html>""" % (uri, i, i, issued, pub_uri, sameas, uri,
              _sentence(rng), "\n".join(sections), _sentence(rng)))


def _f3_text(i: int, n: int, rng: random.Random) -> str:
    pub_idx = i % len(PUBLISHERS)
    variants = PUBLISHER_VARIANTS[pub_idx]
    publisher = variants[i % len(variants)]
    category = CATEGORIES[i % len(CATEGORIES)][0]
    month = ["January", "February", "March", "April", "May", "June", "July",
             "August", "September", "October", "November", "December"][i % 12]
    year = 2010 + (i % 8)
    author = "%s. Author%d" % (chr(65 + i % 26), i % 7)
    org = "Org %d Systems" % (i % 5)
    cited = (i * 7 + 3) % max(n, 1)
    header = ("%-40s%33s\n" % (publisher, author) +
              "%-40s%33s\n" % ("Request for Comments: %d" % i, org) +
              "%-40s%33s\n" % ("Category: %s" % category, "%s %d" % (month, year)) +
              "ISSN: 2070-1721")
    title = "          A Synthetic Document About %s\n" \
            "                 Number %d" % (_words(rng, 2).title(), i)
    abstract = ("Abstract\n\n   %s\n   %s"
                % (_sentence(rng), _sentence(rng)))
    status = ("Status of This Memo\n\n   This document cites Section 2 of "
              "RFC %d for details.\n   %s" % (cited, _sentence(rng)))
    body = [header, title, abstract, status]
    nsec = 2 + (i % 3)
    for s in range(1, nsec + 1):
        body.append("%d.  Section %d Title\n\n%s" % (s, s, _paragraph(rng, "   ")))
        if s == 1:
            body.append("1.1.  Subsection One\n\n%s" % _paragraph(rng, "   "))
            body.append("   o  first item in list\n\n   o  second item, see "
                        "[RFC%d]" % cited)
    body.append("%d.  Security Considerations\n\n   See Section 1.1 for %s."
                % (nsec + 1, _words(rng, 3)))
    return "\n\n".join(p for b in body for p in b.split("\n\n"))


def _f7_html(i: int, rng: random.Random) -> str:
    nsec = 2 + i % 4
    parts = []
    for s in range(1, nsec + 1):
        parts.append("<h2>%d. Chapter %d</h2>" % (s, s))
        parts.append("<p>%s</p>" % _sentence(rng))
        if s == 1:
            parts.append("<h3>1.1 Detail</h3><p>%s</p>" % _sentence(rng))
    return ("<html lang=\"en\">\n<head><title>Filler %d</title>"
            "<script>ignore_me();</script></head>\n"
            "<body>\n<div class=\"toc\"><p>navigation junk</p></div>\n%s\n"
            "</body>\n</html>" % (i, "\n".join(parts)))


def page_row(i: int, n: int) -> dict:
    """One deterministic pages row for global index i of n."""
    rng = random.Random(42_000_000 + i)
    fam = family_of(i)
    if fam == "f1":
        content = _f1_html(i, rng)
    elif fam == "f2":
        content = _f2_html(i, n, rng)
    elif fam == "f3":
        content = _f3_text(i, n, rng)
    else:
        content = _f7_html(i, rng)
    lang = ["en", "en-GB", "sv", ""][i % 4] if fam == "f1" else "en"
    return {
        "url": doc_url(i, n),
        "warc_ts": EPOCH + datetime.timedelta(seconds=i % 86400),
        "html": content.encode("utf-8"),
        "text": "",
        "lang": lang,
    }


def build_pages(spark, n: int, partitions: int | None = None):
    """Distributed deterministic generation: spark.range → mapInPandas.
    No driver-side loop; scales to any n."""
    import pandas as pd

    from pyspark.sql.types import (BinaryType, StringType, StructField,
                                   StructType, TimestampType)

    schema = StructType([
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ])

    def gen(batches):
        for pdf in batches:
            rows = [page_row(int(i), n) for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=schema.fieldNames())

    rng_df = spark.range(0, n, 1, partitions or spark.sparkContext.defaultParallelism)
    return rng_df.mapInPandas(gen, schema)
