"""URL canonicalization + registrable-domain extraction.

Reference behaviors reproduced (see SURVEY.md §2.8 F7/F19):
- relative→absolute resolution like `new Uri(base, rel)`
  (HZ.Crawler.Common/Net/HttpResponse.cs:39-66),
- naive query-param extraction `GetUrlKeyValue`
  (HZ.Crawler.Common/Extensions/StringExtension.cs:11-24).

Canonicalization contract (BASELINE.json north_star): lowercase host,
strip fragment, normalize path (dot-segments, duplicate slashes), drop
default ports, keep query as-is. Idempotent (property-tested).

Canonicalization exists twice: as plain Python (``canonicalize_url``, the
oracle) and as pure Catalyst expressions (``with_canonical_url``, the
engine) — no per-row Python inside Spark for it. Only the registrable
domain still runs as a pandas UDF (``registrable_domain_udf``).
"""

from __future__ import annotations

import posixpath
from urllib.parse import urljoin, urlsplit, urlunsplit

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .psl import default_psl

_DEFAULT_PORTS = {"http": "80", "https": "443", "ftp": "21"}


def canonicalize_url(url: str, base: str | None = None) -> str | None:
    """Canonical form of ``url`` (optionally resolved against ``base``).

    Returns None for non-fetchable schemes (mailto:, javascript:, data:)
    and malformed inputs — callers filter those out of the frontier.
    """
    if url is None:
        return None
    url = url.strip()
    if not url:
        return None
    if base:
        url = urljoin(base, url)
    try:
        parts = urlsplit(url)
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    if scheme not in ("http", "https", "ftp"):
        return None
    if "[" in parts.netloc or "]" in parts.netloc:
        # Bracketed (IPv6) authority: urlunsplit would emit a bare
        # `scheme://::1/...` that does NOT re-parse to the same host —
        # canonicalization would not be idempotent. Non-fetchable here.
        return None
    host = (parts.hostname or "").lower().rstrip(".")
    if not host:
        return None
    try:
        port = parts.port
    except ValueError:
        # non-numeric or out-of-range port — malformed, not fetchable
        return None
    netloc = host
    if port is not None and str(port) != _DEFAULT_PORTS.get(scheme):
        netloc = f"{host}:{port}"
    path = parts.path or "/"
    # normalize dot-segments + duplicate slashes, preserve trailing slash
    trailing = "/" if path.endswith("/") and path != "/" else ""
    norm = posixpath.normpath(path)
    if norm == ".":
        norm = "/"
    # norm can end with '/' only when it IS all slashes ('/' or the
    # POSIX two-leading-slash quirk '//'); re-appending the trailing
    # slash there would break idempotence ('//' → '///' → '/').
    path = norm + (trailing if norm not in ("/", "//") else "")
    # fragment always stripped
    return urlunsplit((scheme, netloc, path, parts.query, ""))


def registrable_domain(host_or_url: str) -> str | None:
    """Registrable domain (eTLD+1) of a host or URL, backed by the full
    PSL matching algorithm over a data-file rule set (crawler_spark/
    data/public_suffix_list.dat; inject the upstream list via
    psl.set_default_psl for production). Wildcards, exceptions and
    multi-level rules are honored — this is the politeness fairness key
    (SURVEY.md §4.2-1), so collapsing e.g. all of *.co.uk into one
    budget would starve whole country zones."""
    if not host_or_url:
        return None
    s = host_or_url
    if "://" in s:
        try:
            s = urlsplit(s).hostname or ""
        except ValueError:
            return None
    return default_psl().registrable_domain(s)


def url_key_value(url: str, key: str) -> str | None:
    """Naive query-param get, replicating GetUrlKeyValue's split-based
    parsing (StringExtension.cs:11-24) including its edge cases: no URL
    decoding, first match wins, value may contain '='-free garbage."""
    if not url or "?" not in url:
        return None
    query = url.split("?", 1)[1]
    for pair in query.split("&"):
        if "=" in pair:
            k, v = pair.split("=", 1)
            if k == key:
                return v
    return None


# ---------------------------------------------------------------------------
# Pure-Catalyst canonicalizer (the engine's hot path since round 2)
# ---------------------------------------------------------------------------
# Python str.isspace() characters (what str.strip() removes), minus
# nothing — used for the outer trim that canonicalize_url's url.strip()
# performs. Java \s is only [ \t\n\x0B\f\r], so spell the set out.
_PY_WS = (
    "\\t\\n\\x0b\\f\\r\\x1c-\\x1f "
    "\\x85\\xa0\\u1680\\u2000-\\u200a\\u2028\\u2029\\u202f\\u205f\\u3000"
)
# WHATWG C0-control-or-space — what CPython urlsplit lstrips AFTER the
# outer strip (two distinct passes; the order is observable when C0 and
# non-ASCII whitespace interleave at the left edge).
_C0_SP = "\\x00-\\x20"
_DEFAULT_PORT_MAP = "map('http','80','https','443','ftp','21')"


def with_canonical_url(df: DataFrame, src: str = "url", dst: str = "url"):
    """``df`` with column ``dst`` = ``canonicalize_url(src)`` (base=None),
    in pure Catalyst expressions (no Python workers).

    Byte-identical to :func:`canonicalize_url` — verified by a
    corpus-equality test plus a hypothesis battery over adversarial
    inputs (tests/test_canonicalize_expr.py). Replicates CPython
    urlsplit's observable quirks in order:

    1. ``str.strip()`` of Python whitespace, then urlsplit's *lstrip* of
       WHATWG C0-control-or-space (two passes — trailing C0 controls are
       kept, matching CPython's "preserve trailing space" exception);
    2. removal of ``\\t\\r\\n`` everywhere (WHATWG unsafe bytes);
    3. scheme = leading ``[A-Za-z][A-Za-z0-9+.-]*`` before ``://``,
       lowercased, gated to http/https/ftp;
    4. hostname = after last ``@``, before first ``:``, lowercased,
       trailing dots stripped; bracketed (IPv6) authorities → NULL;
    5. port: digits-only, ≤ 65535 (else NULL row), int-rendered
       (``:080`` → ``:80``... → dropped when equal to the scheme
       default);
    6. path: ``''`` → ``/``; posixpath.normpath dot-segment fold
       including the POSIX exactly-two-leading-slashes quirk, trailing
       slash preserved; implemented as a JVM higher-order `aggregate`
       stack fold, with a regex fast path that skips the fold when the
       path has no ``//`` / ``.`` / ``..`` segments (the common case
       stays inside whole-stage codegen);
    7. query kept verbatim (first ``?`` after fragment strip at first
       ``#``), fragment dropped.

    Rejected inputs give NULL. Each intermediate (trimmed url, scheme,
    rest, netloc, hostinfo, host, port, path, query) is projected once
    as its own column: every one of them feeds several later
    expressions, and a single nested Column would re-evaluate it at
    each reference. The projections stay separate because Catalyst does
    not collapse a projection whose non-trivial output is referenced
    more than once. A filter on ``dst`` is pushed below the projections
    and re-evaluates the whole chain inside its condition, so the hot
    path drops NULL rows after an aggregate instead
    (``engine.first_wins``).
    """
    staged: list[str] = []

    def stage(**exprs):
        """Project ``exprs`` as columns; return references to them."""
        nonlocal df
        names = [f"_canon_{n}" for n in exprs]
        df = df.withColumns(dict(zip(names, exprs.values())))
        staged.extend(names)
        return [F.col(n) for n in names]

    u = F.regexp_replace(F.col(src), f"^[{_PY_WS}]+|[{_PY_WS}]+$", "")
    u = F.regexp_replace(u, f"^[{_C0_SP}]+", "")
    (u,) = stage(u=F.translate(u, "\t\n\r", ""))

    scheme, rest = stage(
        scheme=F.lower(
            F.regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.\\-]*)://", 1)
        ),
        rest=F.regexp_extract(u, "(?s)^[A-Za-z][A-Za-z0-9+.\\-]*://(.*)$", 1),
    )
    (netloc,) = stage(netloc=F.regexp_extract(rest, "^([^/?#]*)", 1))
    after = rest.substr(F.length(netloc) + F.lit(1), F.length(rest))
    hostinfo, pre = stage(
        hostinfo=F.element_at(F.split(netloc, "@", -1), -1),
        pre=F.substring_index(after, "#", 1),
    )
    path_raw = F.substring_index(pre, "?", 1)
    host, port_str, path, query = stage(
        host=F.regexp_replace(
            F.lower(F.substring_index(hostinfo, ":", 1)), "\\.+$", ""
        ),
        port=F.regexp_extract(hostinfo, "(?s)^[^:]*:(.*)$", 1),
        path=F.when(path_raw == "", F.lit("/")).otherwise(path_raw),
        query=F.regexp_extract(pre, "(?s)^[^?]*\\?(.*)$", 1),
    )

    port_bad = (port_str != "") & (
        ~port_str.rlike("^[0-9]+$")
        | (port_str.try_cast("long") > F.lit(65535))
    )
    port_int = F.when(port_str.rlike("^[0-9]+$"), port_str.try_cast("long"))
    default_port = F.element_at(F.expr(_DEFAULT_PORT_MAP), scheme)
    netloc_out = F.when(
        port_int.isNotNull()
        & (port_int.cast("string") != default_port),
        F.concat(host, F.lit(":"), port_int.cast("string")),
    ).otherwise(host)

    trailing = path.endswith("/") & (path != "/")
    needs_fold = path.rlike("//|(^|/)\\.\\.?(/|$)")
    stack = F.aggregate(
        F.split(path, "/", -1),
        F.array().cast("array<string>"),
        lambda acc, s: F.when((s == "") | (s == "."), acc)
        .when(
            s == "..",
            F.when(
                F.size(acc) > 0, F.slice(acc, 1, F.size(acc) - 1)
            ).otherwise(acc),
        )
        .otherwise(F.concat(acc, F.array(s))),
    )
    prefix = F.when(
        path.rlike("^//") & ~path.rlike("^///"), F.lit("//")
    ).otherwise(F.lit("/"))
    norm = F.concat(prefix, F.array_join(stack, "/"))
    folded = F.when(norm.isin("/", "//"), norm).otherwise(
        F.concat(norm, F.when(trailing, F.lit("/")).otherwise(F.lit("")))
    )
    path_out = F.when(needs_fold, folded).otherwise(path)

    assembled = F.concat(
        scheme,
        F.lit("://"),
        netloc_out,
        path_out,
        F.when(query != "", F.concat(F.lit("?"), query)).otherwise(F.lit("")),
    )
    ok = (
        scheme.isin("http", "https", "ftp")
        & ~netloc.contains("[")
        & ~netloc.contains("]")
        & (host != "")
        & ~port_bad
    )
    return df.withColumn(dst, F.when(ok, assembled)).drop(*staged)


# ---------------------------------------------------------------------------
# Vectorized pandas UDF (Arrow-batched)
# ---------------------------------------------------------------------------
@F.pandas_udf(T.StringType())
def registrable_domain_udf(hosts: pd.Series) -> pd.Series:  # pragma: no cover
    return hosts.map(lambda h: registrable_domain(h) if h is not None else None)
