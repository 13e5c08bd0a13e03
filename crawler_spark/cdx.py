"""CDX(J) index source: Common Crawl's URL index → frontier seeds.

Common Crawl publishes, alongside the WARC archives, a sharded CDXJ
index (``cc-index/collections/.../indexes/cdx-*.gz``): one line per
capture, ``<SURT urlkey> <14-digit timestamp> <JSON attributes>``, with
the JSON carrying url/mime/status/digest and the WARC file+offset the
record lives at. At 10^10-URL frontier scale, the index — not the
archives — is what seeds a crawl: it is ~1% of the archive bytes and
already de-HTML'd.

Spark shape: ``spark.read.text`` splits the shards line-parallel for
free (gzip shards = one task per shard, like warc.py); the line parse
is two ``substring_index`` calls + one ``from_json`` with a declared
schema — all JVM, zero Python, zero shuffle. Seed extraction on top is
a filter + projection, so status/mime predicates push into the scan.

Reference analog: the config-driven seed list (the reference starts
from hard-coded site roots, HZ.Crawler.Common appsettings read in
DataSpider/Program.cs:20-38); a CDX shard is that seed list at
Common-Crawl width.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .urltools import with_canonical_url

# attribute JSON: everything CDXJ guarantees; numbers arrive as JSON
# strings and are cast after parse (CC writes "status": "200")
_ATTR_SCHEMA = (
    "url string, mime string, `mime-detected` string, status string, "
    "digest string, length string, offset string, filename string, "
    "languages string"
)

CDX_SCHEMA = (
    "urlkey string, warc_ts timestamp, url string, mime string, "
    "status int, digest string, length bigint, offset bigint, "
    "warc_file string, languages string"
)


def read_cdx(spark: SparkSession, path: str) -> DataFrame:
    """Directory (or glob) of CDX(J) shard files → one row per capture,
    CDX_SCHEMA. Malformed lines surface with NULL url rather than
    failing the scan (never-crash contract, same as the error spill)."""
    lines = spark.read.text(path)
    # "<urlkey> <ts> {json}": substring_index is O(1) JVM work per line;
    # the JSON block is everything after the SECOND space (an urlkey may
    # itself contain "{" — e.g. a brace in a url path — so scanning for
    # the first "{" would start the parse inside the key)
    urlkey = F.substring_index(F.col("value"), " ", 1)
    ts14 = F.substring_index(
        F.substring_index(F.col("value"), " ", 2), " ", -1
    )
    attrs = F.from_json(
        F.expr(
            "substring(value, length(substring_index(value, ' ', 2)) + 2)"
        ),
        _ATTR_SCHEMA,
    )
    return lines.select(
        urlkey.alias("urlkey"),
        # try_: a malformed stamp (or the writer's all-zero NULL
        # sentinel) reads back as NULL instead of failing the scan
        F.try_to_timestamp(ts14, F.lit("yyyyMMddHHmmss")).alias("warc_ts"),
        attrs["url"].alias("url"),
        F.coalesce(attrs["mime-detected"], attrs["mime"]).alias("mime"),
        attrs["status"].cast("int").alias("status"),
        attrs["digest"].alias("digest"),
        attrs["length"].cast("bigint").alias("length"),
        attrs["offset"].cast("bigint").alias("offset"),
        attrs["filename"].alias("warc_file"),
        attrs["languages"].alias("languages"),
    )


def cdx_seeds(
    cdx: DataFrame,
    mime_prefix: str = "text/html",
    statuses: tuple[int, ...] = (200,),
) -> DataFrame:
    """Frontier seed rows from an index frame: successful HTML captures,
    canonicalized, one row per url keeping the LATEST capture (the
    as-of shape — the older captures are history, not frontier). The
    dedup is one hash aggregation on the canonical url; predicates sit
    below it so they reach the scan."""
    ok = cdx.where(
        F.col("status").isin(*statuses)
        & F.col("mime").startswith(mime_prefix)
        & F.col("url").isNotNull()
    )
    return (
        with_canonical_url(ok)
        .groupBy("url")
        .agg(
            F.max("warc_ts").alias("last_seen_ts"),
            F.count("*").alias("n_captures"),
        )
    )


def surt_urlkey(url):
    """SURT-style urlkey (the CDX sort key) in pure Catalyst
    expressions: lowercase, scheme dropped, leading ``www.`` stripped,
    host labels reversed and comma-joined, query params sorted —
    ``https://WWW.Example.com/A/b?b=2&a=1`` →
    ``com,example)/a/b?a=1&b=2``. Simplified vs java SURT (no port /
    session-param special cases), documented and stable. Uses
    ``try_parse_url`` so a URL java.net.URI rejects (e.g. a raw brace
    in the path) yields NULL instead of failing the stage — the writer
    falls back to the lowercased raw url as the sort key."""
    host = F.lower(F.try_parse_url(url, F.lit("HOST")))
    host = F.regexp_replace(host, r"^www\.", "")
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    path = F.lower(F.coalesce(F.try_parse_url(url, F.lit("PATH")), F.lit("")))
    query = F.lower(F.try_parse_url(url, F.lit("QUERY")))
    qpart = F.when(
        query.isNotNull() & (query != ""),
        F.concat(F.lit("?"), F.array_join(F.array_sort(F.split(query, "&")), "&")),
    ).otherwise(F.lit(""))
    return F.concat(rev, F.lit(")"), path, qpart)


def write_cdx(df: DataFrame, out_dir: str, n_shards: int = 1) -> None:
    """Captures frame ``(url, warc_ts [, mime, status, digest, length,
    offset, warc_file])`` → CDXJ shard files (the inverse of
    :func:`read_cdx`; missing attribute columns are emitted as NULL and
    omitted from the JSON, matching CC's sparse lines).

    Scale shape: ``repartitionByRange(urlkey)`` + ``sortWithinPartitions``
    reproduces Common Crawl's own index layout — globally range-sharded,
    sorted within shard, so a reader can binary-search a shard and
    prefix-scan a domain. One range shuffle, then a straight text write;
    every expression is JVM-side."""
    cols = {c.lower() for c in df.columns}

    def attr(name: str):
        # CC writes every attribute as a JSON string ("status": "200")
        if name in cols:
            return F.col(name).cast("string").alias(name)
        return F.lit(None).cast("string").alias(name)

    attrs = F.to_json(
        F.struct(
            F.col("url").cast("string").alias("url"),
            attr("mime"),
            attr("status"),
            attr("digest"),
            attr("length"),
            attr("offset"),
            F.col("warc_file").cast("string").alias("filename")
            if "warc_file" in cols
            else F.lit(None).cast("string").alias("filename"),
        )
    )
    # concat_ws silently DROPS null fields, which would shift the line's
    # columns and corrupt every row to the right — both the key and the
    # timestamp must therefore be made non-null: an unparseable url
    # falls back to its lowercased raw form as the sort key, and a NULL
    # warc_ts becomes the all-zero 14-digit stamp (to_timestamp parses
    # it back to NULL — round-trip preserved).
    key = F.coalesce(surt_urlkey(F.col("url")), F.lower(F.col("url")))
    line = F.concat_ws(
        " ",
        key,
        F.coalesce(
            F.date_format("warc_ts", "yyyyMMddHHmmss"),
            F.lit("00000000000000"),
        ),
        attrs,
    )
    out = (
        df.select(key.alias("urlkey"), line.alias("value"))
        .repartitionByRange(n_shards, "urlkey")
        .sortWithinPartitions("urlkey")
        .select("value")
    )
    out.write.mode("overwrite").text(out_dir)
