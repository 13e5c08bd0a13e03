"""WARC source (crawler_spark/warc.py): synthetic archives round-trip
through the reader into the pages-table shape."""

from __future__ import annotations

import gzip
import io

import pytest

from crawler_spark.warc import pages_from_warc, parse_warc_bytes, read_warc


def _record(
    rtype: str,
    uri: str | None,
    payload: bytes,
    date: str = "2025-03-01T12:30:00Z",
    content_type: str = "application/http; msgtype=response",
) -> bytes:
    headers = [f"WARC/1.0", f"WARC-Type: {rtype}"]
    if uri:
        headers.append(f"WARC-Target-URI: {uri}")
    headers += [
        f"WARC-Date: {date}",
        f"Content-Type: {content_type}",
        f"Content-Length: {len(payload)}",
    ]
    return (
        "\r\n".join(headers).encode() + b"\r\n\r\n" + payload + b"\r\n\r\n"
    )


HTTP_PAYLOAD = (
    b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
    b"<html><body>hello</body></html>"
)


def _archive() -> bytes:
    return b"".join(
        [
            _record(
                "warcinfo",
                None,
                b"software: test",
                content_type="application/warc-fields",
            ),
            _record("response", "https://a.test/page1", HTTP_PAYLOAD),
            _record(
                "request",
                "https://a.test/page1",
                b"GET /page1 HTTP/1.1\r\n\r\n",
                content_type="application/http; msgtype=request",
            ),
            _record(
                "response",
                "https://b.test/page2",
                b"HTTP/1.1 200 OK\nContent-Type: text/html\n\n<p>bare-LF</p>",
            ),
        ]
    )


def test_parse_plain_bytes():
    rows = list(parse_warc_bytes(_archive()))
    # warcinfo has no Target-URI -> dropped; request + 2 responses kept
    assert [r["record_type"] for r in rows] == [
        "response",
        "request",
        "response",
    ]
    r1 = rows[0]
    assert r1["url"] == "https://a.test/page1"
    assert r1["html"] == b"<html><body>hello</body></html>"  # HTTP hdrs gone
    assert r1["warc_ts"].isoformat() == "2025-03-01T12:30:00"
    assert rows[2]["html"] == b"<p>bare-LF</p>"


def test_parse_per_record_gzip_members():
    # Common Crawl layout: each record its own gzip member, concatenated
    gz = b"".join(
        gzip.compress(m)
        for m in [
            _record("response", "https://a.test/page1", HTTP_PAYLOAD),
            _record("response", "https://b.test/page2", HTTP_PAYLOAD),
        ]
    )
    rows = list(parse_warc_bytes(gz))
    assert [r["url"] for r in rows] == [
        "https://a.test/page1",
        "https://b.test/page2",
    ]


def test_corrupt_tail_stops_cleanly():
    data = (
        _record("response", "https://a.test/page1", HTTP_PAYLOAD)
        + b"garbage not a warc header\r\n"
    )
    rows = list(parse_warc_bytes(data))
    assert [r["url"] for r in rows] == ["https://a.test/page1"]


@pytest.fixture(scope="module")
def warc_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("warc")
    (d / "part-0.warc").write_bytes(_archive())
    (d / "part-1.warc.gz").write_bytes(
        gzip.compress(_record("response", "https://c.test/page3", HTTP_PAYLOAD))
    )
    (d / "ignored.txt").write_text("not a warc")
    return str(d)


def test_read_warc_dataframe(spark, warc_dir):
    rows = read_warc(spark, warc_dir).collect()
    assert sorted(r["url"] for r in rows) == [
        "https://a.test/page1",
        "https://b.test/page2",
        "https://c.test/page3",
    ]
    by_url = {r["url"]: r for r in rows}
    assert bytes(by_url["https://a.test/page1"]["html"]) == (
        b"<html><body>hello</body></html>"
    )
    assert all(r["record_type"] == "response" for r in rows)


def test_pages_table_shape(spark, warc_dir):
    df = pages_from_warc(spark, warc_dir)
    assert [f.name for f in df.schema.fields] == [
        "url",
        "warc_ts",
        "html",
        "text",
        "lang",
    ]
    assert df.count() == 3


def test_no_shuffle_plan(spark, warc_dir):
    plan = (
        read_warc(spark, warc_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_golden_crawl_from_warc_roundtrip(spark, smoke_dir, tmp_path_factory):
    """Full circle: render the smoke corpus's pages as per-record-gzip
    WARC archives, ingest them with pages_from_warc, and run the crawl
    over the result — totals must equal the parquet-sourced golden run
    (303 pages, 4 supersteps, drained frontier). text/lang arrive null
    from the source; the engine re-derives everything from html."""
    import gzip as _gzip

    from crawler_spark.engine import CrawlEngine, EngineConfig

    pages = spark.read.parquet(f"{smoke_dir}/pages.parquet").collect()
    d = tmp_path_factory.mktemp("warc-corpus")
    # split across two archives: exercises multi-file parallel ingest
    for i in range(2):
        chunk = [r for j, r in enumerate(pages) if j % 2 == i]
        members = []
        for r in chunk:
            ts = r["warc_ts"].strftime("%Y-%m-%dT%H:%M:%SZ")
            payload = (
                b"HTTP/1.1 200 OK\r\nContent-Type: application/json\r\n\r\n"
                + bytes(r["html"])
            )
            members.append(
                _gzip.compress(
                    _record("response", r["url"], payload, date=ts)
                )
            )
        (d / f"part-{i}.warc.gz").write_bytes(b"".join(members))

    pages_pq = str(d / "pages.parquet")
    pages_from_warc(spark, str(d)).write.parquet(pages_pq)

    state = str(tmp_path_factory.mktemp("warc-state"))
    eng = CrawlEngine(
        spark,
        pages_path=pages_pq,
        seeds_path=f"{smoke_dir}/seeds.parquet",
        robots_path=f"{smoke_dir}/robots.parquet",
        state_dir=state,
        config=EngineConfig(budget_ms=3_600_000),
        fresh=True,
    )
    summary = eng.run(max_supersteps=200)
    assert summary["pages_fetched"] == 303
    assert summary["supersteps"] == 4
    assert summary["frontier_rows"] == 0


def test_write_warc_roundtrip(spark, tmp_path):
    """write_warc is the inverse of read_warc: (url, warc_ts, html)
    survive a Spark-side export → re-ingest cycle exactly."""
    from datetime import datetime

    from crawler_spark.warc import write_warc

    rows = [
        (f"https://h{i % 3}.test/p{i}", datetime(2025, 3, 1, 12, 30, i), f"<html><p>doc {i} 中文</p></html>".encode())
        for i in range(17)
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, html binary")
    out = str(tmp_path / "export")
    manifest = write_warc(df, out, n_files=4).collect()
    assert sum(m.n_records for m in manifest) == 17
    assert all(m.warc_file.endswith(".warc.gz") for m in manifest)

    back = read_warc(spark, out).select("url", "warc_ts", "html").collect()
    exp = {(u, ts, h) for u, ts, h in rows}
    got = {(r.url, r.warc_ts, bytes(r.html)) for r in back}
    assert got == exp


def test_write_warc_deterministic_bytes(spark, tmp_path):
    """Identical input + partitioning → byte-identical archives (gzip
    mtime pinned, urls sorted per file, digest-derived record ids)."""
    from datetime import datetime

    from crawler_spark.warc import write_warc

    rows = [
        (f"https://d.test/p{i}", datetime(2025, 1, 1, 0, 0, i), b"<p>x</p>")
        for i in range(5)
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, html binary")
    outs = []
    for tag in ("a", "b"):
        out = str(tmp_path / tag)
        write_warc(df, out, n_files=2).collect()
        import glob

        blobs = b"".join(
            open(p, "rb").read() for p in sorted(glob.glob(out + "/*.warc.gz"))
        )
        outs.append(blobs)
    assert outs[0] == outs[1] and len(outs[0]) > 0


def test_write_warc_null_ts_and_overwrite(spark, tmp_path):
    """NULL warc_ts rows must not crash the writer (pandas delivers
    them as NaT); re-exporting to the same directory with fewer files
    must not leave stale shards behind."""
    from datetime import datetime

    from crawler_spark.warc import write_warc

    rows = [("https://n.test/p0", None, b"<p>a</p>"),
            ("https://n.test/p1", datetime(2025, 5, 1, 1, 2, 3), b"<p>b</p>")]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, html binary")
    out = str(tmp_path / "w")
    write_warc(df, out, n_files=1).collect()
    back = {(r.url, r.warc_ts) for r in
            read_warc(spark, out).select("url", "warc_ts").collect()}
    # NULL ts round-trips as the 1970 epoch sentinel in the record
    assert {u for u, _ in back} == {"https://n.test/p0", "https://n.test/p1"}

    # wide export then narrow re-export: no stale part files survive
    import glob
    wide = spark.createDataFrame(
        [(f"https://n.test/x{i}", datetime(2025, 5, 1), b"<p>x</p>") for i in range(40)],
        "url string, warc_ts timestamp, html binary")
    write_warc(wide, out, n_files=8).collect()
    assert len(glob.glob(out + "/*.warc.gz")) <= 8
    write_warc(df, out, n_files=1).collect()
    files = glob.glob(out + "/*.warc.gz")
    assert len(files) == 1, files
    assert read_warc(spark, out).count() == 2


def test_documents_from_wet(spark, tmp_path):
    """WET conversion records → documents shape: payload is the text
    verbatim (no HTTP header stripping — conversion records carry none),
    doc_id deterministic across scans, host extracted, response/request
    records ignored."""
    from crawler_spark.warc import documents_from_wet

    payloads = {
        "https://a.test/art1": b"the quick brown fox\njumps over it",
        "https://b.test/art2": "纯文本 extracted content".encode(),
        # invalid UTF-8 (lone continuation, truncated sequence, overlong,
        # surrogate) fails per record: U+FFFD, not a failed job
        "https://c.test/art3": b"caf\xe9 \xff\xfe \xc0\xaf \xed\xa0\x80 ok \xe4\xb8",
    }
    members = [
        _record(
            "warcinfo", None, b"software: wet",
            content_type="application/warc-fields",
        )
    ]
    for url, p in payloads.items():
        members.append(_record("conversion", url, p, content_type="text/plain"))
    # a response record in the same archive must NOT become a document
    members.append(_record("response", "https://a.test/page", HTTP_PAYLOAD))
    (tmp_path / "part.warc.wet.gz").write_bytes(
        gzip.compress(b"".join(members))
    )

    docs = documents_from_wet(spark, str(tmp_path))
    rows = {r.url: r for r in docs.collect()}
    assert set(rows) == set(payloads)
    for url, p in payloads.items():
        r = rows[url]
        t = p.decode("utf-8", errors="replace")
        assert r.text == t
        assert r.n_chars == len(t)
        assert r.lang == "und"
        assert r.doc_id >= 0
    assert rows["https://a.test/art1"].source == "a.test"
    # identity is stable across independent scans
    again = {r.url: r.doc_id for r in documents_from_wet(
        spark, str(tmp_path)).collect()}
    assert again == {u: r.doc_id for u, r in rows.items()}
