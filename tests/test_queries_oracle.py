"""Local mirror of the driver's correctness gate: every queries() entry
with an oracle must match DuckDB exactly (row count + values) at sf0.01."""

from __future__ import annotations

import datetime
import math
import os

import duckdb
import pytest

from crawler_spark.queries import _TABLES, all_queries

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in _TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return round(float(v), 9)
    except ImportError:  # pragma: no cover
        pass
    return v


def _rows(cols, data):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in data)


QUERIES = {k: q for k, q in all_queries().items() if q.oracle is not None}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_duckdb(spark, duck, name):
    q = QUERIES[name]
    sdf = q.run(spark, SF_DIR)
    scols = sdf.columns
    srows = _rows(scols, [tuple(r) for r in sdf.collect()])
    res = duck.execute(q.oracle)
    dcols = [d[0] for d in res.description]
    drows = _rows(dcols, res.fetchall())
    assert sorted(scols) == sorted(dcols), f"{name}: column names differ"
    assert len(srows) == len(drows), (
        f"{name}: row counts differ spark={len(srows)} duck={len(drows)}"
    )
    if srows != drows:
        for a, b in zip(srows, drows):
            assert a == b, f"{name}: first differing row\n spark={a}\n duck={b}"
    assert srows == drows


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_decimal_columns(spark, name):
    """Regression guard for round 1's driver hash failures: Spark parses
    bare decimal literals (``0.0``) as DECIMAL, so an un-cast ratio
    returns DecimalType while DuckDB returns DOUBLE — values agree but
    the driver's type-sensitive value hash differs on every row. The
    local _norm() above coerces Decimal→float and would mask it, so
    assert at the schema level instead."""
    from pyspark.sql.types import DecimalType

    q = QUERIES[name]
    sdf = q.run(spark, SF_DIR)
    bad = [f.name for f in sdf.schema.fields
           if isinstance(f.dataType, DecimalType)]
    assert not bad, (
        f"{name}: DecimalType columns {bad} — cast to double "
        "(driver hash compares types, DuckDB returns DOUBLE)"
    )


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_hugeint_oracle_columns(duck, name):
    """Round-2 lesson (VERDICT r2 §What's wrong #1), one type wider than
    round 1's Decimal class: DuckDB promotes ``sum(BIGINT)`` (plain and
    windowed) to HUGEINT (int128); Spark stays BIGINT. Values match
    bit-for-bit, but the driver hashes the *typed* representation, so
    every HUGEINT oracle column is a guaranteed red row. ``DESCRIBE``
    types the query without executing it, so this sweeps all oracles
    cheaply. Fix at the source: ``CAST(sum(...) AS BIGINT)``."""
    res = duck.execute(f"DESCRIBE {QUERIES[name].oracle}")
    bad = [
        (col, typ)
        for col, typ, *_ in res.fetchall()
        if "HUGEINT" in typ.upper() or "DECIMAL" in typ.upper()
    ]
    assert not bad, (
        f"{name}: oracle columns typed HUGEINT/DECIMAL {bad} — Spark "
        "emits BIGINT/DOUBLE, the driver's value hash is type-sensitive; "
        "CAST the aggregate to BIGINT (or the ratio to DOUBLE)"
    )


def test_rows_only_queries_run(spark):
    for name, q in all_queries().items():
        if q.oracle is None:
            df = q.run(spark, SF_DIR)
            assert df.count() >= 0, name


def test_all_queries_warns_without_reports(monkeypatch, tmp_path):
    """With no CORRECTNESS report to read, the stalest-green-first
    ordering cannot be computed: all_queries() says so and keeps
    registration order."""
    from crawler_spark import queries

    monkeypatch.setattr(queries, "_REPORT_ROOT", str(tmp_path))
    with pytest.warns(UserWarning, match="CORRECTNESS_r"):
        ordered = list(queries.all_queries())
    assert ordered == list({**queries._REL, **queries._TRAIN})


def test_driver_window_covers_unverified():
    """The round driver oracle-checks only the first 50 registered
    queries() entries, so registration order is an exposure budget:
    every entry WITHOUT a fully-green row in the latest CORRECTNESS
    file must sit inside the leading 50 slots (and the flagship crawl
    must be first, having lost its row in round 2 by sitting last).

    Hardened per VERDICT r3 #8: this test never skips. When the
    backlog of unverified entries exceeds the 50-slot window (possible
    once two rounds of additions stack against 90+ registrations), it
    enforces a two-round rotation instead: (a) any entry whose last
    green row is >= two reports old MUST be in the window now — no
    entry's evidence may ever go three rounds stale — and (b) the
    window must be fully spent on unverified entries (no slot wasted
    on an already-green veteran while a backlog waits)."""
    import glob
    import json

    import __spark_entry__ as entry

    def _green(path):
        with open(path) as f:
            rows = json.load(f)
        return {
            k for k, v in rows.items()
            if v.get("rows_match") and v.get("schema_match")
            and v.get("hash_match")
        }

    ordered = list(entry.queries())
    assert ordered[0] == "crawl_flagship"
    reports = sorted(glob.glob(os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "CORRECTNESS_r*.json")))
    if not reports:
        pytest.skip("no driver CORRECTNESS report yet")
    green_latest = _green(reports[-1])
    green_prev = _green(reports[-2]) if len(reports) >= 2 else set()
    needing_exposure = [k for k in ordered if k not in green_latest]
    window = set(ordered[:50])
    if len(needing_exposure) <= 50:
        missed = [k for k in needing_exposure if k not in window]
        assert not missed, (
            f"unverified entries outside the driver's 50-row check "
            f"window: {missed} — the computed stalest-green-first "
            "ordering in crawler_spark/queries.py:all_queries() is "
            "broken"
        )
    else:
        # Backlog exceeds one window: schedule a two-round rotation.
        stale2 = [k for k in needing_exposure if k not in green_prev]
        missed2 = [k for k in stale2 if k not in window]
        assert not missed2, (
            f"entries with no green driver row in the last TWO reports "
            f"outside the window: {missed2} — these must be checked "
            "this round (two-round rotation invariant); the computed "
            "ordering in crawler_spark/queries.py:all_queries() is "
            "broken"
        )
        wasted = [k for k in ordered[1:50] if k not in needing_exposure]
        assert not wasted, (
            f"window slots spent on already-green entries while "
            f"{len(needing_exposure)} wait: {wasted} — pack the window "
            "with unverified entries"
        )
