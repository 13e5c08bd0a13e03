"""CDX index source: line parse, predicate gating, latest-capture seeds."""

from __future__ import annotations

import datetime as dt

from crawler_spark.cdx import cdx_seeds, read_cdx

LINES = [
    # two captures of the same page (same canonical url) — seeds keep
    # the later one and count both
    'org,example)/a 20240101000000 {"url": "https://example.org/a", '
    '"mime": "text/html", "status": "200", "digest": "AAA", '
    '"length": "1234", "offset": "0", "filename": "w/one.warc.gz"}',
    'org,example)/a 20240301000000 {"url": "https://EXAMPLE.org/a#frag", '
    '"mime": "text/html", "status": "200", "digest": "AAB", '
    '"length": "1250", "offset": "99", "filename": "w/two.warc.gz"}',
    # mime-detected overrides the served mime
    'org,example)/b 20240102000000 {"url": "https://example.org/b", '
    '"mime": "application/octet-stream", "mime-detected": "text/html", '
    '"status": "200", "digest": "BBB", "length": "10", "offset": "1", '
    '"filename": "w/one.warc.gz"}',
    # gated out: 404, and a non-HTML capture
    'org,example)/c 20240103000000 {"url": "https://example.org/c", '
    '"mime": "text/html", "status": "404", "digest": "CCC", '
    '"length": "10", "offset": "2", "filename": "w/one.warc.gz"}',
    'org,example)/d.jpg 20240104000000 {"url": "https://example.org/d.jpg", '
    '"mime": "image/jpeg", "status": "200", "digest": "DDD", '
    '"length": "10", "offset": "3", "filename": "w/one.warc.gz"}',
    # malformed JSON: must surface as a NULL-url row, not crash the scan
    "org,example)/e 20240105000000 {broken",
]


def _write(tmp_path):
    p = tmp_path / "cdx-00000"
    p.write_text("\n".join(LINES) + "\n")
    return str(p)


def test_read_cdx_parses_all_jvm(spark, tmp_path):
    df = read_cdx(spark, _write(tmp_path))
    parsed = [r for r in df.collect() if r.url is not None]
    assert len(parsed) == 5  # every well-formed line is one capture row
    rows = {r.urlkey: r for r in parsed}  # 2 captures share /a's key
    a = rows["org,example)/a"]
    assert a.status == 200 and a.warc_file in ("w/one.warc.gz", "w/two.warc.gz")
    assert a.length in (1234, 1250) and isinstance(a.offset, int)
    assert rows["org,example)/b"].mime == "text/html"  # mime-detected wins
    assert a.warc_ts.replace(tzinfo=None).year == 2024
    # malformed line surfaced, not raised
    bad = [r for r in df.collect() if r.url is None]
    assert len(bad) == 1 and bad[0].urlkey == "org,example)/e"
    # the parse is all-JVM: no Python evaluation node in the plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan


def test_cdx_seeds_latest_capture_per_canonical_url(spark, tmp_path):
    cdx = read_cdx(spark, _write(tmp_path))
    seeds = {r.url: r for r in cdx_seeds(cdx).collect()}
    # /a canonicalizes both captures (host lowercased, fragment dropped)
    # to one seed carrying the later ts and both captures counted
    assert set(seeds) == {"https://example.org/a", "https://example.org/b"}
    a = seeds["https://example.org/a"]
    assert a.n_captures == 2
    assert a.last_seen_ts.replace(tzinfo=None) == dt.datetime(2024, 3, 1)



def test_write_cdx_roundtrip(spark, tmp_path):
    """write_cdx is the inverse of read_cdx: captures survive the
    export → re-ingest cycle, shards are globally range-sorted, and the
    urlkey matches the documented SURT form."""
    import glob

    from crawler_spark.cdx import write_cdx

    rows = [
        (
            "https://WWW.Example.com/A/b?b=2&a=1",
            dt.datetime(2025, 3, 1, 12, 0, 0),
            "text/html",
            200,
            "sha1:AAAA",
            1234,
            567,
            "crawl-00.warc.gz",
        ),
        (
            "https://news.site.org/x",
            dt.datetime(2025, 3, 2, 1, 2, 3),
            "text/html",
            301,
            "sha1:BBBB",
            99,
            0,
            "crawl-01.warc.gz",
        ),
        (
            "http://a.test/p",
            dt.datetime(2025, 3, 3, 0, 0, 0),
            "application/pdf",
            200,
            "sha1:CCCC",
            5,
            1,
            "crawl-02.warc.gz",
        ),
    ]
    df = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, mime string, status int, "
        "digest string, length bigint, offset bigint, warc_file string",
    )
    out = str(tmp_path / "cdx")
    write_cdx(df, out, n_shards=2)

    back = read_cdx(spark, out)
    got = {
        (r.url, r.warc_ts, r.mime, r.status, r.digest, r.length, r.offset, r.warc_file)
        for r in back.collect()
    }
    assert got == set(rows)

    # urlkey form + per-shard sortedness
    keys = {r.url: r.urlkey for r in back.collect()}
    assert keys["https://WWW.Example.com/A/b?b=2&a=1"] == "com,example)/a/b?a=1&b=2"
    assert keys["https://news.site.org/x"] == "org,site,news)/x"
    for shard in glob.glob(out + "/part-*"):
        lines = [l.split(" ", 1)[0] for l in open(shard)]
        assert lines == sorted(lines)


def test_write_cdx_brace_urlkey_and_null_ts(spark, tmp_path):
    """A '{' inside the url path must not derail the reader's JSON
    split (it parses after the second space, not at the first brace),
    and NULL warc_ts must round-trip as NULL without shifting columns."""
    from crawler_spark.cdx import write_cdx

    rows = [
        ("https://ex.test/a{b}", dt.datetime(2025, 3, 1, 12, 0, 0),
         "text/html", 200, "sha1:A", 10, 0, "w0.warc.gz"),
        ("https://ex.test/c", None,
         "text/html", 200, "sha1:B", 11, 5, "w1.warc.gz"),
    ]
    df = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, mime string, status int, "
        "digest string, length bigint, offset bigint, warc_file string",
    )
    out = str(tmp_path / "cdx2")
    write_cdx(df, out)
    back = {r.url: (r.warc_ts, r.urlkey, r.status) for r in
            read_cdx(spark, out).collect()}
    assert back["https://ex.test/a{b}"][0] == dt.datetime(2025, 3, 1, 12, 0, 0)
    # java.net.URI rejects the raw brace → surt is NULL → the writer's
    # fallback key is the lowercased raw url, and the line still parses
    assert back["https://ex.test/a{b}"][1] == "https://ex.test/a{b}"
    assert back["https://ex.test/c"][0] is None
    assert back["https://ex.test/c"][2] == 200
