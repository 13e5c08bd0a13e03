"""with_canonical_url (pure Catalyst) ≡ canonicalize_url (Python oracle).

The Catalyst canonicalizer runs in the per-superstep hot path
(engine._new_frontier_rows); the crawl-ordering
and URL-seen contracts require the two to agree byte-for-byte, so this
is an exhaustive equality battery: hand-built urlsplit quirk cases, a
seeded adversarial fuzz pool, and every link the golden corpus emits.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from crawler_spark.urltools import canonicalize_url, with_canonical_url

HAND_CASES = [
    # scheme / gate
    "http://h/x", "HTTP://H/X", "ftp://H/p", "FtP://h", "https://h",
    "mailto:a@b", "javascript:void(0)", "data:text/plain,x", "1http://h/x",
    "a+b.c://h/x", "://h/p", "http:///p", "http:/p", "http:p", "//h/p",
    "", " ", None, "http://", "http://#f", "http://?q",
    # whitespace + WHATWG unsafe bytes
    "  http://h/x  ", "\thttp://h/x\t", "http://h/a\tb", "ht\ttp://h/x",
    "h\nttp://h/x", "http://h/a\nb\rc", "\x01http://h/x", "http://h/x\x01",
    "\x01\x02http://h/x\x02\x01", "\x85http://h/x", "\xa0http://h/x\xa0",
    "\x01\x85http://h/x", "\x85\x01http://h/x", "\u2028http://h/x",
    "http://h/a\u2028b", "\u3000http://h/x\u3000", "http://h/x ",
    "http://h/x\x1f", "\x1c\x1dhttp://h/x\x1e\x1f",
    # host forms
    "http://HoSt.CoM/p", "http://host./p", "http://host.../p",
    "http://user:pw@host/p", "http://a@b@host/p", "http://@host/p",
    "http://user@/p", "http://.../p", "http://../p", "http://./p",
    "http://host\u00e9.example/p", "http://XN--caf-dma.example/p",
    # ports
    "http://h:80/p", "http://h:8080/p", "https://h:443/p", "https://h:80/p",
    "ftp://h:21/p", "http://h:080/p", "http://h:0080/p", "http://h:/p",
    "http://h:abc/p", "http://h:99999/p", "http://h:65535/p",
    "http://h:65536/p", "http://h:8080:90/p", "http://h:+80/p",
    "http://h: 80/p", "http://h:-1/p", "http://u:p@h:3128/x",
    "http://h:99999999999999999999/p", "http://h:0000000000000000000080/p",
    # IPv6 / brackets (both sides must reject)
    "http://[::1]/p", "http://[::1]:80/p", "http://[::1/p", "http://::1]/p",
    "http://h]z/p", "http://[notv6]/p",
    # paths: dot segments, duplicate + leading slashes, trailing slash
    "http://h", "http://h/", "http://h//", "http://h///", "http://h////",
    "http://h//a", "http://h///a", "http://h//a//b/", "http://h/a//b",
    "http://h/.", "http://h/..", "http://h/./", "http://h/../",
    "http://h/a/..", "http://h/a/../", "http://h/../../a",
    "http://h/a/./b/../c//d/", "http://h/a/b/c/../../../..",
    "http://h/a/b/c/../../../../..", "http://h/..a/b", "http://h/a../b",
    "http://h/.hidden/x", "http://h/a/.../b", "http://h/%2e/a",
    "http://h/a%2Fb/c", "http://h/a b/c", "http://h/%41?b=%20",
    "http://h/\u00fcber/stra\u00dfe", "http://h/a/./././b",
    "http://h//..//a//", "http://h/..//",
    # query / fragment
    "http://h/p?", "http://h/p?#", "http://h/p?a=1", "http://h/p?a=1&b=2",
    "http://h/p?a=1#frag", "http://h/p#frag?notquery", "http://h/p?a#b?c",
    "http://h/p??x", "http://h/p?q=/../x", "http://h/p?q=a//b",
    "http://h?q=1", "http://h#f", "http://h/p?A=B&A=C", "http://h/p?=v",
    "http://h/p?k=", "http://h/p?k", "http://h/p#", "http://h/p##a",
    # kitchen sink
    "HTTP://UsEr:p@HoSt.Com.:8080/A/./b/../c//d/?q=1#frag",
    " \tHTTPS://WWW.Example.COM.:00443//a/b/../c/?x=1&y=%2F#top ",
]


def _fuzz_pool(n: int = 4000, seed: int = 20260819) -> list[str]:
    rng = random.Random(seed)
    schemes = ["http", "HTTP", "https", "ftp", "file", "mailto", "ht tp",
               "a+b-c.d", "1x", "", "HtTpS"]
    hosts = ["h", "Host.Example.COM", "a.b.c.d", "h.", "h..", "", ".",
             "xn--nxasmq6b", "UPPER", "host\u00e9", "a@b", "u:p@h",
             "a@b@c", "[::1]", "[bad", "h]x", "127.0.0.1"]
    ports = ["", ":80", ":443", ":21", ":0080", ":8080", ":", ":abc",
             ":99999", ":65535", ":65536", ":8_0", ": 80", ":+1", ":-1"]
    segs = ["a", "b", "A", ".", "..", "", "...", "a b", "%2e", "a%2Fb",
            "\u00fc", "longer-segment", "..a", "a..", ".hidden"]
    tails = ["", "?", "?a=1", "?a=1&b=2", "#f", "?a#b", "#b?c", "??",
             "?=", "?k", "?q=/../x", "#", "##"]
    pad = ["", " ", "\t", "\n", "\x01", "\x85", "\xa0", "\u3000", "  \t "]
    pool = []
    for _ in range(n):
        path = "/".join(rng.choice(segs) for _ in range(rng.randrange(0, 6)))
        u = (
            rng.choice(pad)
            + rng.choice(schemes)
            + rng.choice(["://", ":/", ":", "//", ""])
            + rng.choice(hosts)
            + rng.choice(ports)
            + rng.choice(["/", "", "//", "///"])
            + path
            + rng.choice(["/", ""])
            + rng.choice(tails)
            + rng.choice(pad)
        )
        if rng.random() < 0.1:  # inject an unsafe byte mid-string
            i = rng.randrange(0, len(u) + 1)
            u = u[:i] + rng.choice("\t\r\n") + u[i:]
        pool.append(u)
    return pool


def _assert_parity(spark, urls: list[str | None]) -> None:
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "i int, url string"
    )
    got = {
        r["i"]: r["c"]
        for r in with_canonical_url(df, "url", "c").select("i", "c").collect()
    }
    bad = []
    for i, u in enumerate(urls):
        want = canonicalize_url(u) if u is not None else None
        if got[i] != want:
            bad.append((u, want, got[i]))
    assert not bad, f"{len(bad)} mismatches, first 10: {bad[:10]}"


def test_hand_cases_parity(spark):
    _assert_parity(spark, HAND_CASES)


def test_fuzz_pool_parity(spark):
    _assert_parity(spark, _fuzz_pool())


def test_idempotent_on_expr_output(spark):
    """expr(expr(u)) == expr(u): canonical forms are fixed points."""
    urls = [u for u in HAND_CASES if u] + _fuzz_pool(1500, seed=7)
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    two = with_canonical_url(with_canonical_url(df, "url", "c1"), "c1", "c2")
    diverged = two.filter(
        F.col("c1").isNotNull() & (F.col("c1") != F.col("c2"))
    ).collect()
    assert diverged == [], diverged[:10]


@pytest.mark.parametrize(
    "raw",
    ["http://[::1]/p", "http://h:99999/p", "http://h:abc/p", "http://[x/p"],
)
def test_python_rejects_hostile_authorities(raw):
    """Round-2 fix: these crashed or produced non-idempotent output."""
    assert canonicalize_url(raw) is None
