"""Crawl-admission operators: robots.txt verdicts at corpus scale.

Kernels in :mod:`ferenda_spark.robots` (RFC 9309 subset documented
there). The verdict join is the scale-shaped part and lives here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import ensure_parallelism

_RULES_SCHEMA = ("host string, allow boolean, rule string, "
                 "pattern string, priority int")

# scheme://authority prefix; the remainder (path + query) is what REP
# rules match against
_PATH_STRIP = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/]*"


def robots_rules(robots: DataFrame, agent: str = "*",
                 host_col: str = "host",
                 text_col: str = "robots_txt") -> DataFrame:
    """(host, robots_txt) → one row per applicable Allow/Disallow rule:
    (host, allow, rule, pattern, priority). Arrow-batched parse —
    robots files are small and per-host, so this output is the tiny
    side of the verdict join."""
    from ..robots import parse_robots

    def run(batches):
        import pandas as pd
        for pdf in batches:
            rows = {c: [] for c in ("host", "allow", "rule",
                                    "pattern", "priority")}
            for host, text in zip(pdf[host_col], pdf[text_col]):
                for allow, rule, pattern, prio in parse_robots(
                        text or "", agent):
                    rows["host"].append(host)
                    rows["allow"].append(allow)
                    rows["rule"].append(rule)
                    rows["pattern"].append(pattern)
                    rows["priority"].append(prio)
            yield pd.DataFrame(rows)

    return (ensure_parallelism(robots.select(host_col, text_col))
            .mapInPandas(run, _RULES_SCHEMA))


def robots_filter(urls: DataFrame, robots: DataFrame,
                  agent: str = "*", url_col: str = "url",
                  host_col: str = "host",
                  text_col: str = "robots_txt") -> DataFrame:
    """Per-URL crawl admission → (url, host, allowed): RFC 9309
    longest-match / Allow-wins-ties / no-rule-allows / no-robots-allows
    semantics over the parsed rule set.

    Scale notes: ZERO shuffles on the corpus side. The per-host rule
    lists (a few rows each) are collected into arrays and explicitly
    ``broadcast``; the verdict is one map-side higher-order
    ``aggregate`` fold over the host's rule array — each rule's
    translated pattern is matched engine-side with ``regexp_like`` and
    the (priority, allow) maximum is carried in the fold accumulator.
    Non-literal regex compiles per evaluation — bounded by
    rules-per-host (~10), the classic trade for keeping 100 TB of URLs
    entirely map-side.
    """
    from .graphops import host_col as host_of
    rules = robots_rules(robots, agent, host_col, text_col)
    per_host = rules.groupBy("host").agg(
        F.collect_list(F.struct("priority", "allow", "pattern"))
        .alias("rules"))
    u = urls.select(
        F.col(url_col).alias("url"),
        host_of(F.col(url_col)).alias("host"),
        F.coalesce(
            F.nullif(F.regexp_replace(F.col(url_col), _PATH_STRIP, ""),
                     F.lit("")),
            F.lit("/")).alias("path"))
    init = F.struct(F.lit(-1).alias("priority"),
                    F.lit(True).alias("allow"))

    def fold(acc, r):
        better = (r["priority"] > acc["priority"]) | \
                 ((r["priority"] == acc["priority"]) &
                  r["allow"] & ~acc["allow"])
        hit = F.regexp_like(F.col("path"), r["pattern"])
        return (F.when(hit & better,
                       F.struct(r["priority"].alias("priority"),
                                r["allow"].alias("allow")))
                .otherwise(acc))

    best = F.aggregate(F.coalesce(F.col("rules"),
                                  F.array().cast(
                                      "array<struct<priority:int,"
                                      "allow:boolean,pattern:string>>")),
                       init, fold)
    # no orderBy: the verdict is row-aligned with the input — an
    # output sort would be the plan's ONLY corpus-sized exchange
    return (u.join(F.broadcast(per_host), "host", "left")
            .select("url", "host", best["allow"].alias("allowed")))


# one lazy block pattern + one per-field pattern, valid in both Java
# regex and RE2; [^<]* keeps fields from crossing element boundaries
_URL_BLOCK = r"<url>[\s\S]*?</url>"
_MAP_BLOCK = r"<sitemap>[\s\S]*?</sitemap>"


def _field(block, name: str) -> F.Column:
    got = F.regexp_extract(block, r"<%s>\s*([^<]*?)\s*</%s>"
                           % (name, name), 1)
    return F.nullif(got, F.lit(""))


def _unescape(col) -> F.Column:
    """The five XML predefined entities (the sitemap spec REQUIRES
    ampersand escaping in <loc>); &amp; decodes LAST so '&amp;lt;'
    cannot double-decode."""
    for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                    ("&apos;", "'"), ("&amp;", "&")):
        col = F.replace(col, F.lit(ent), F.lit(ch))
    return col


def sitemap_entries(sitemaps: DataFrame, xml_col: str = "xml",
                    url_col: str = "sitemap_url") -> DataFrame:
    """Sitemap XML (sitemaps.org protocol) → one row per entry:
    (sitemap_url, kind, loc, lastmod, changefreq, priority) — kind is
    'url' for urlset entries and 'sitemap' for sitemapindex children
    (the crawl-frontier seed feed). Entries without a <loc> are
    dropped; <priority> parses leniently (junk → NULL); <loc> text is
    whitespace-trimmed and XML-entity-decoded.

    Scale notes: pure codegen — two regexp_extract_all + explode
    passes (narrow, no shuffle, no UDF); the union is a plan-level
    concatenation. Sitemap files cap at 50k entries by spec, so the
    per-row explode fan-out is bounded.
    """
    xml = F.coalesce(F.col(xml_col), F.lit(""))
    b = F.col("block")

    def entries(pattern, kind, with_url_fields):
        rows = (sitemaps.select(
            F.col(url_col).alias("sitemap_url"),
            F.explode(F.regexp_extract_all(xml, F.lit(pattern), 0))
            .alias("block")))
        loc = _unescape(_field(b, "loc"))
        out = rows.select(
            "sitemap_url", F.lit(kind).alias("kind"),
            loc.alias("loc"), _field(b, "lastmod").alias("lastmod"),
            (_field(b, "changefreq") if with_url_fields
             else F.lit(None).cast("string")).alias("changefreq"),
            (_field(b, "priority").try_cast("double")
             if with_url_fields
             else F.lit(None).cast("double")).alias("priority"))
        return out.where(F.col("loc").isNotNull())

    return (entries(_URL_BLOCK, "url", True)
            .unionAll(entries(_MAP_BLOCK, "sitemap", False)))


def politeness_schedule(urls: DataFrame, per_host_rate: int = 10,
                        url_col: str = "url") -> DataFrame:
    """Crawl-frontier scheduling → (url, host, slot): URLs are
    round-robined into fetch slots of at most ``per_host_rate`` URLs
    per host per slot — the per-host politeness budget that turns a
    skewed frontier (one giant host) into bounded waves instead of one
    hot fetch partition. Deterministic: within a host, URLs order by
    their md5 (seedable rank, the md5 device random_walks uses).

    Scale notes: one hash exchange on host + a running row_number —
    the canonical window; hosts are the natural politeness key so the
    skew IS the workload (a 10M-page host legitimately needs 1M
    slots); downstream fetchers partition by (slot) to get
    rate-uniform waves.
    """
    from pyspark.sql import Window
    w = Window.partitionBy("host").orderBy(F.md5(F.col(url_col)),
                                           F.col(url_col))
    from .graphops import host_col as host_of
    return (urls.select(F.col(url_col).alias("url"),
                        host_of(F.col(url_col)).alias("host"))
            .withColumn(
                "slot",
                ((F.row_number().over(w) - F.lit(1)) /
                 F.lit(per_host_rate)).cast("long")))


def frontier_expand(pages: DataFrame, seen: DataFrame,
                    per_host_cap: int = 100, html_col: str = "text",
                    url_col: str = "url") -> DataFrame:
    """Crawl-frontier expansion → (url, host, rank): the distinct
    absolute http(s) outlink targets across a crawl batch, minus the
    already-fetched URL set, capped at ``per_host_cap`` candidates per
    host — the discovery step between link extraction
    (textops.anchor_text_stats) and fetch scheduling
    (:func:`politeness_schedule`). Fragments are stripped (they never
    change the fetched resource); rank is the deterministic md5 order
    within a host, so re-running the expansion over the same batch
    yields the same frontier.

    Scale notes: tag extraction + explode are narrow codegen; distinct
    is one uniform url-keyed exchange; the seen-set anti-join reuses
    that url clustering; the per-host cap is one host-keyed window
    whose WindowGroupLimit pushes the cap below the sort — a 10M-link
    host contributes per_host_cap rows, not 10M, to anything
    downstream. No UDFs, nothing on the driver.
    """
    from pyspark.sql import Window

    from .graphops import host_col as host_of
    from .textops import ANCHOR_RE
    links = pages.select(
        F.explode(F.regexp_extract_all(
            F.coalesce(F.col(html_col), F.lit("")),
            F.lit(ANCHOR_RE), 1)).alias("url"))
    cand = (links
            .where(F.col("url").rlike("^https?://"))
            .select(F.regexp_replace("url", "#.*$", "").alias("url"))
            .distinct()
            .join(seen.select(F.col(url_col).alias("url")),
                  "url", "left_anti"))
    w = Window.partitionBy("host").orderBy(F.md5(F.col("url")),
                                           F.col("url"))
    return (cand.select("url", host_of(F.col("url")).alias("host"))
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= per_host_cap))


def resolve_redirects(redirects: DataFrame, max_hops: int = 16,
                      src_col: str = "src", dst_col: str = "dst"
                      ) -> DataFrame:
    """Redirect-chain resolution → (url, final, hops, status): every
    redirecting URL mapped to its terminal destination (the first node
    with no outgoing redirect), with the exact chain length; chains
    longer than ``max_hops`` and redirect cycles come back
    status='unresolved' with NULL final — the canonical-URL step a
    crawl lake runs over its 3xx records before frontier scheduling
    and URL dedup.

    Non-functional inputs (two redirects from one URL) collapse
    deterministically to the min destination.

    Scale notes: pointer doubling, not step-by-step walking — each
    round composes the mapping with itself (f ∘ f), so a 16-hop cap
    costs log2(16) = 4 self-joins on uniform url keys instead of 16
    frontier rounds; chain *distances* add through the composition, so
    the hop count is exact. ``max_hops`` must be a power of two so the
    Spark doubling and the oracle's step-walk cap agree exactly.
    """
    if max_hops & (max_hops - 1):
        raise ValueError("max_hops must be a power of two")
    m = (redirects.groupBy(F.col(src_col).alias("src"))
         .agg(F.min(dst_col).alias("cur"))
         .where(F.col("src") != F.col("cur"))
         .withColumn("hops", F.lit(1).cast("long"))
         .localCheckpoint(eager=True))
    f = m
    rounds = max_hops.bit_length() - 1      # log2(max_hops)
    for _ in range(rounds):
        nxt = f.select(F.col("src").alias("_s"),
                       F.col("cur").alias("_c"),
                       F.col("hops").alias("_h"))
        f = (f.join(nxt, f["cur"] == nxt["_s"], "left")
             .select("src",
                     F.coalesce("_c", "cur").alias("cur"),
                     (F.col("hops") + F.coalesce("_h", F.lit(0)))
                     .alias("hops"))
             .localCheckpoint(eager=True))
    srcs = m.select(F.col("src").alias("_t"))
    out = (f.join(srcs, f["cur"] == srcs["_t"], "left")
           .select("src", "cur", "hops", F.col("_t").isNotNull()
                   .alias("_loops")))
    return out.select(
        F.col("src").alias("url"),
        F.when(~F.col("_loops"), F.col("cur")).alias("final"),
        F.when(~F.col("_loops"), F.col("hops")).alias("hops"),
        F.when(F.col("_loops"), F.lit("unresolved"))
         .otherwise(F.lit("resolved")).alias("status"))


def recrawl_priority(captures: DataFrame, now: str,
                     url_col: str = "url", ts_col: str = "warc_date",
                     digest_col: str = "digest") -> DataFrame:
    """Freshness-driven recrawl scheduling → (url, n_captures,
    n_versions, age_days, priority): the Cho & Garcia-Molina
    refresh-ordering signal — estimated change rate (distinct payload
    versions per capture) × staleness (days since the newest capture
    at ``now``, an ISO date string). The feedback loop that closes the
    crawl lake: capture history in (revisit_stats' input shape),
    fetch-order out (feed the top of this into
    :func:`politeness_schedule`).

    Scale notes: ONE url-keyed hash aggregation with map-side combine
    (count / distinct-digest / max-date) and codegen date arithmetic —
    digests are 32-hex strings, page bodies never reach this operator.
    Ordered by (priority DESC, url) — the schedule head.
    """
    g = (captures.groupBy(F.col(url_col).alias("url"))
         .agg(F.count(F.lit(1)).alias("n_captures"),
              F.countDistinct(digest_col).alias("n_versions"),
              F.max(ts_col).alias("_last")))
    age = F.datediff(F.to_date(F.lit(now)),
                     F.to_date(F.substring("_last", 1, 10)))
    return (g.select(
        "url", "n_captures", "n_versions",
        age.cast("long").alias("age_days"),
        F.round(F.col("n_versions").cast("double") /
                F.col("n_captures") * age, 6).alias("priority"))
        .orderBy(F.desc("priority"), "url"))
