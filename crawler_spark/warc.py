"""WARC source: Common-Crawl archive files → the engine's pages table.

The north rule's input is an Iceberg table of Common-Crawl-style pages
``(url, warc_ts, html, text, lang)`` — but Common Crawl itself ships
WARC files (ISO 28500): ~1 GB archives of length-prefixed records, one
gzip member per record. ``read_warc`` turns a directory of ``.warc`` /
``.warc.gz`` files into that table shape.

Scale model: Spark's ``binaryFile`` source gives one row per archive
file; a ``mapInPandas`` pass parses each archive into its response
records. The WARC file is exactly Common Crawl's unit of parallelism
(100 TB ≈ 10^5 files → 10^5 independent tasks), so the pass needs no
shuffle at all, and the per-file Python work is sequential streaming
parse — the payload bytes cross into Arrow once. Record-level gzip
(members concatenated back to back) is what Python's zlib handles
natively when asked to keep inflating; whole-file-gzip WARCs decompress
identically.

Reference analog: none (the reference fetches live HTTP). This is the
ingest edge the reference's corpus would arrive through at CC scale.
"""

from __future__ import annotations

import io
import zlib
from datetime import datetime, timezone
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

WARC_SCHEMA = (
    "url string, warc_ts timestamp, html binary, "
    "record_type string, warc_file string"
)


def _inflate_members(data: bytes) -> bytes:
    """Decompress concatenated gzip members (Common Crawl writes one
    member per record); raw bytes pass through untouched."""
    if not data[:2] == b"\x1f\x8b":
        return data
    out = []
    d = zlib.decompressobj(16 + zlib.MAX_WBITS)
    buf = data
    while buf:
        out.append(d.decompress(buf))
        buf = d.unused_data
        if buf:
            d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        else:
            break
    return b"".join(out)


def parse_warc_bytes(data: bytes, warc_file: str = "") -> Iterator[dict]:
    """Stream records out of one WARC archive's bytes. Yields dicts of
    WARC_SCHEMA fields for every record carrying a Target-URI (response
    / resource / revisit); HTTP response payloads are stripped of their
    HTTP header block so ``html`` is the entity body alone."""
    stream = io.BytesIO(_inflate_members(data))
    while True:
        version = stream.readline()
        if not version:
            return
        if not version.strip():  # inter-record CRLF padding
            continue
        if not version.startswith(b"WARC/"):
            # damaged archive tail: stop at the first corrupt record
            # rather than emitting garbage rows
            return
        headers: dict[bytes, bytes] = {}
        while True:
            line = stream.readline()
            if not line or not line.strip():
                break
            k, _, v = line.partition(b":")
            headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers.get(b"content-length", b"0"))
        except ValueError:
            return
        payload = stream.read(length)
        rtype = headers.get(b"warc-type", b"").decode("ascii", "replace")
        uri = headers.get(b"warc-target-uri")
        if uri is not None:
            body = payload
            ctype = headers.get(b"content-type", b"")
            if rtype == "response" and ctype.startswith(b"application/http"):
                # strip the HTTP header block; tolerate bare-LF servers
                for sep in (b"\r\n\r\n", b"\n\n"):
                    idx = payload.find(sep)
                    if idx >= 0:
                        body = payload[idx + len(sep):]
                        break
            ts = None
            raw_ts = headers.get(b"warc-date")
            if raw_ts:
                try:
                    ts = datetime.fromisoformat(
                        raw_ts.decode("ascii").replace("Z", "+00:00")
                    ).astimezone(timezone.utc).replace(tzinfo=None)
                except ValueError:
                    ts = None
            yield {
                "url": uri.decode("utf-8", "replace").strip("<>"),
                "warc_ts": ts,
                "html": body,
                "record_type": rtype,
                "warc_file": warc_file,
            }


def read_warc(
    spark, path: str, record_types: tuple[str, ...] = ("response",)
) -> DataFrame:
    """Directory (or glob) of ``.warc`` / ``.warc.gz`` files → DataFrame
    of WARC_SCHEMA rows, one task per archive file (no shuffle)."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc*")
        .load(path)
        .select("path", "content")
    )
    wanted = set(record_types)

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, row in pdf.iterrows():
                rows = [
                    r
                    for r in parse_warc_bytes(row["content"], row["path"])
                    if r["record_type"] in wanted
                ]
                if rows:
                    yield pd.DataFrame(rows)

    return files.mapInPandas(_parse, schema=WARC_SCHEMA)


WRITE_MANIFEST_SCHEMA = "warc_file string, n_records long, n_bytes long"

_CRLF = b"\r\n"


def _warc_record(url: str, ts, html: bytes) -> bytes:
    """Compose one WARC/1.0 response record (ISO 28500). The payload is
    a minimal HTTP/1.1 200 envelope around the entity body, which is
    exactly what ``parse_warc_bytes`` strips back off — the pair is a
    lossless round trip for (url, warc_ts, html). The record id is a
    deterministic UUIDv4-shaped digest of (url, ts) so identical input
    produces byte-identical archives (resumable sinks re-emit the same
    bytes, and tests can golden them)."""
    import hashlib

    body = html or b""
    http = (
        b"HTTP/1.1 200 OK" + _CRLF
        + b"Content-Type: text/html; charset=UTF-8" + _CRLF
        + b"Content-Length: " + str(len(body)).encode() + _CRLF
        + _CRLF
        + body
    )
    # mapInPandas delivers NULL timestamps as pd.NaT (never None)
    if ts is not None and not pd.isna(ts):
        iso = ts.strftime("%Y-%m-%dT%H:%M:%SZ")
    else:
        iso = "1970-01-01T00:00:00Z"
    digest = hashlib.md5(url.encode("utf-8") + b"\x00" + iso.encode()).hexdigest()
    rid = f"<urn:uuid:{digest[:8]}-{digest[8:12]}-{digest[12:16]}-{digest[16:20]}-{digest[20:32]}>"
    head = (
        b"WARC/1.0" + _CRLF
        + b"WARC-Type: response" + _CRLF
        + b"WARC-Record-ID: " + rid.encode() + _CRLF
        + b"WARC-Date: " + iso.encode() + _CRLF
        + b"WARC-Target-URI: " + url.encode("utf-8") + _CRLF
        + b"Content-Type: application/http; msgtype=response" + _CRLF
        + b"Content-Length: " + str(len(http)).encode() + _CRLF
        + _CRLF
    )
    return head + http + _CRLF + _CRLF


def _gzip_member(record: bytes) -> bytes:
    """One gzip member per record (the Common Crawl convention, so a
    reader can seek to any record independently), mtime pinned to 0 for
    byte-determinism."""
    import gzip
    import io as _io

    buf = _io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
        gz.write(record)
    return buf.getvalue()


def write_warc(df: DataFrame, out_dir: str, n_files: int | None = None) -> DataFrame:
    """Pages-shaped DataFrame ``(url, warc_ts, html, ...)`` → a directory
    of ``.warc.gz`` archives, one file per task (the inverse of
    :func:`read_warc`; ``read_warc(write_warc(df)) == df`` on
    (url, warc_ts, html) up to second-truncated timestamps).

    Scale shape: each task streams its partition into ONE archive —
    the same file-per-task layout Common Crawl itself uses, so a
    100 TB export is 10^5 independent tasks with no shuffle beyond the
    optional ``repartition``. Rows are sorted by url BEFORE the task
    (``sortWithinPartitions``) so the writer streams batch-by-batch at
    one-Arrow-batch memory, and output stays deterministic for a fixed
    partitioning. Overwrite semantics: the target directory is cleared
    first (stale part files from a previous wider export must not
    survive), and each archive is written to a temp name and renamed
    at task end so a killed task never leaves a truncated archive at
    the final path. Local-filesystem sink: out_dir must be a path every
    executor can write (shared FS on a real cluster).
    Returns the written-file manifest as a DataFrame (path, record and
    byte counts) — an action has NOT yet run; the caller materializes.
    """
    import os
    import shutil

    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    src = df.select("url", "warc_ts", "html")
    if n_files is not None:
        src = src.repartition(n_files, "url")
    src = src.sortWithinPartitions("url")

    def _write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"part-{pid:05d}.warc.gz")
        tmp = f"{path}.inprogress-{ctx.taskAttemptId()}"
        n = 0
        fh = None
        try:
            for pdf in batches:
                if not len(pdf):
                    continue
                if fh is None:
                    fh = open(tmp, "wb")
                for _, r in pdf.iterrows():
                    fh.write(
                        _gzip_member(
                            _warc_record(r["url"], r["warc_ts"], r["html"])
                        )
                    )
                    n += 1
            if fh is None:
                return
            fh.close()
            fh = None
            os.replace(tmp, path)
        finally:
            if fh is not None:
                fh.close()
            if os.path.exists(tmp):
                os.remove(tmp)
        yield pd.DataFrame(
            {
                "warc_file": [path],
                "n_records": [n],
                "n_bytes": [os.path.getsize(path)],
            }
        )

    return src.mapInPandas(_write, schema=WRITE_MANIFEST_SCHEMA)


def pages_from_warc(spark, path: str) -> DataFrame:
    """WARC archives → the engine's pages-table shape
    ``(url, warc_ts, html, text, lang)`` (text/lang null: extraction is
    the engine's job, not the source's)."""
    from pyspark.sql import functions as F

    return read_warc(spark, path).select(
        "url",
        "warc_ts",
        "html",
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )


def documents_from_wet(
    spark, path: str, default_lang: str = "und"
) -> DataFrame:
    """WET extracted-text archives (Common Crawl's ``*.warc.wet.gz``:
    WARC *conversion* records whose payload IS the extracted plain
    text) → the training pipeline's ``documents`` shape
    ``(doc_id, url, warc_ts, text, lang, source, n_chars)``.

    Completes the CC ingest trio next to :func:`pages_from_warc`
    (response records → crawl corpus) and ``cdx.read_cdx`` (index →
    seeds): WET is the path that skips the crawl entirely and feeds
    ``pipeline.run_training_pipeline`` directly. Same scale shape as
    the WARC reader — one task per archive, shuffle-free, all-JVM
    column work after the parse.

    ``doc_id`` is ``xxhash64(url, warc_ts)`` (non-negative): stable
    across scans and cluster sizes, so pipeline stage checkpoints and
    dedup survivor ids remain joinable across re-runs — a
    ``monotonically_increasing_id`` would silently reshuffle identities
    per scan. ``lang`` defaults to ``default_lang``; language-id is a
    downstream operator (q:text_lang_id), not the source's job."""
    from pyspark.sql import functions as F

    recs = read_warc(spark, path, record_types=("conversion",))
    # lenient: invalid UTF-8 becomes U+FFFD (what bytes.decode(errors=
    # 'replace') gives) — F.decode raises on it under ANSI mode and
    # would fail the whole job on one bad record
    text = F.make_valid_utf8(F.col("html").cast("string"))
    return recs.select(
        F.pmod(
            F.xxhash64(F.col("url"), F.col("warc_ts").cast("string")),
            F.lit(2**62),
        ).alias("doc_id"),
        F.col("url"),
        F.col("warc_ts"),
        text.alias("text"),
        F.lit(default_lang).alias("lang"),
        F.coalesce(
            F.parse_url(F.col("url"), F.lit("HOST")), F.lit("")
        ).alias("source"),
        F.length(text).alias("n_chars"),
    )
