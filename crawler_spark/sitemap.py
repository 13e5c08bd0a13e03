"""Sitemap ingestion: urlset/sitemapindex parsing and seed discovery.

Companion to ``crawler_spark.robots`` for the crawl tier's discovery
path: hosts advertise sitemaps (robots.txt ``Sitemap:`` lines or
convention paths); their XML bodies yield seed URLs at a scale the
link graph alone can't reach. Reference analog: none (the reference
crawls a fixed API; discovery here implements the north rule's
Common-Crawl-style frontier growth).

Parsing is REGEX-based, not a DOM walk, deliberately: real-world
sitemap XML is frequently malformed (unclosed tags, stray bytes,
wrong namespaces) and sitemaps.org semantics only need the ``<loc>``
(plus optional ``<lastmod>``/``<priority>``) of each ``<url>`` /
``<sitemap>`` entry. Regexes run as JVM Catalyst expressions
(regexp_extract_all + explode) — no Python on the hot path, no shuffle
at all (pure per-row map), so the pass scales embarrassingly over a
10^8-host sitemap corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# an entry is a <url>...</url> or <sitemap>...</sitemap> block; loc is
# required, CDATA-wrapped values and surrounding whitespace tolerated
_ENTRY_RE = r"(?s)<(?:url|sitemap)\b[^>]*>(.*?)</(?:url|sitemap)>"
_LOC_RE = r"(?s)<loc\s*>\s*(?:<!\[CDATA\[)?\s*([^<\]\s][^<\]]*?)\s*(?:\]\]>)?\s*</loc>"
_LASTMOD_RE = r"(?s)<lastmod\s*>\s*([^<]+?)\s*</lastmod>"
_PRIORITY_RE = r"(?s)<priority\s*>\s*([^<]+?)\s*</priority>"


def _unescape(col):
    # the five XML predefined entities — sitemaps.org requires escaped
    # ampersands in loc URLs; order matters (&amp; last)
    c = F.regexp_replace(col, "&lt;", "<")
    c = F.regexp_replace(c, "&gt;", ">")
    c = F.regexp_replace(c, "&quot;", '"')
    c = F.regexp_replace(c, "&apos;", "'")
    return F.regexp_replace(c, "&amp;", "&")


def parse_sitemap(
    raw: DataFrame, host_col: str = "host", body_col: str = "body"
) -> DataFrame:
    """``(host, body)`` → one row per sitemap entry:
    ``(host, kind, pos, loc, lastmod, priority)`` where ``kind`` is
    ``urlset`` (leaf page entries) or ``sitemapindex`` (nested sitemap
    files to fetch next — the caller loops, sitemaps.org allows one
    nesting level). Entries without a ``<loc>`` are dropped."""
    body = F.coalesce(F.col(body_col), F.lit(""))
    entries = (
        raw.select(
            F.col(host_col).alias("host"),
            F.when(
                body.rlike(r"(?s)<\s*sitemapindex\b"), F.lit("sitemapindex")
            )
            .otherwise(F.lit("urlset"))
            .alias("kind"),
            F.posexplode_outer(
                F.regexp_extract_all(body, F.lit(_ENTRY_RE), F.lit(1))
            ).alias("pos", "entry"),
        )
        .filter(F.col("entry").isNotNull())
        .select(
            "host",
            "kind",
            "pos",
            _unescape(
                F.regexp_extract(F.col("entry"), _LOC_RE, 1)
            ).alias("loc"),
            F.nullif(
                F.regexp_extract(F.col("entry"), _LASTMOD_RE, 1), F.lit("")
            ).alias("lastmod"),
            F.nullif(
                F.regexp_extract(F.col("entry"), _PRIORITY_RE, 1), F.lit("")
            )
            .cast("double")
            .alias("priority"),
        )
        .filter(F.col("loc") != "")
    )
    return entries


def sitemap_seeds(parsed: DataFrame, robots: DataFrame | None = None):
    """Leaf (urlset) sitemap entries → canonicalized, deduplicated,
    optionally robots-gated seed candidates ``(url, host, priority)``.
    First-wins on the highest advertised priority per URL (single
    groupBy shuffle on url — same discipline as the successor chain)."""
    from .politeness import robots_allowed
    from .urltools import registrable_domain_udf, with_canonical_url

    seeds = (
        with_canonical_url(parsed.filter(F.col("kind") == "urlset"), "loc")
        .filter(F.col("url").isNotNull())
        .groupBy("url")
        .agg(F.max(F.coalesce("priority", F.lit(0.5))).alias("priority"))
        .withColumn("host", registrable_domain_udf(F.col("url")))
        .filter(F.col("host").isNotNull())
    )
    if robots is not None:
        seeds = robots_allowed(seeds, robots)
    return seeds.select("url", "host", "priority")


# ---------------------------------------------------------------------------
# Oracle-checkable query pair (queries.py `sitemap_extract`)
# ---------------------------------------------------------------------------
# Both engines CONSTRUCT a deterministic sitemap body per document and
# PARSE it back with their own regex engines (Spark regexp_extract_all
# vs DuckDB regexp_extract_all) — construction and parsing are separate
# code paths per engine, so a hash match is genuine evidence the
# extraction semantics agree, not a tautology.

SITEMAP_SPARK = r"""
WITH src AS (
  SELECT doc_id,
         concat('<urlset>',
           concat_ws('', transform(sequence(0, cast(doc_id % 3 AS int)),
             i -> concat('<url><loc>https://ex', cast(doc_id AS string),
                         '.test/p/', cast(i AS string),
                         '?a=1&amp;b=2</loc><priority>0.',
                         cast(i + 1 AS string), '</priority></url>'))),
           '</urlset>') AS body
  FROM documents),
e AS (
  SELECT doc_id,
         posexplode(regexp_extract_all(body,
           '(?s)<(?:url|sitemap)\\b[^>]*>(.*?)</(?:url|sitemap)>', 1))
           AS (pos, entry)
  FROM src)
SELECT doc_id, pos,
       replace(regexp_extract(entry, '(?s)<loc\\s*>\\s*([^<]+?)\\s*</loc>', 1),
               '&amp;', '&') AS loc,
       cast(regexp_extract(entry,
              '(?s)<priority\\s*>\\s*([^<]+?)\\s*</priority>', 1)
            AS double) AS priority
FROM e
"""

SITEMAP_DUCK = r"""
WITH src AS (
  SELECT doc_id,
         '<urlset>' || list_aggregate(list_transform(
             range(0, (doc_id % 3) + 1),
             i -> '<url><loc>https://ex' || doc_id::VARCHAR ||
                  '.test/p/' || i::VARCHAR ||
                  '?a=1&amp;b=2</loc><priority>0.' ||
                  (i + 1)::VARCHAR || '</priority></url>'),
           'string_agg', '') || '</urlset>' AS body
  FROM documents),
e AS (
  SELECT doc_id,
         unnest(regexp_extract_all(body,
           '<(?:url|sitemap)\b[^>]*>(.*?)</(?:url|sitemap)>', 1)) AS entry,
         generate_subscripts(regexp_extract_all(body,
           '<(?:url|sitemap)\b[^>]*>(.*?)</(?:url|sitemap)>', 1), 1) - 1
           AS pos
  FROM src)
SELECT doc_id, pos,
       replace(regexp_extract(entry, '<loc\s*>\s*([^<]+?)\s*</loc>', 1),
               '&amp;', '&') AS loc,
       CAST(regexp_extract(entry,
              '<priority\s*>\s*([^<]+?)\s*</priority>', 1) AS DOUBLE)
         AS priority
FROM e
"""
