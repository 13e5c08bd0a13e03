"""Seeded benchmark inputs.

The page corpus is the fixed ``fixtures.bench_spec`` h64 Zipf corpus:
``fixtures.build_corpus`` ignores ``CorpusSpec.seed`` (it only names the
cache directory), so the run seed varies the crawl through the two small
tables the engine reads beside the pages:

- ``seeds.parquet``: the per-host category seeds in a seed-permuted
  ``seed_order`` (the ``/api/admin`` seeds keep their place behind them);
- ``robots.parquet``: the crawl delays of the ordinary hosts, permuted
  among themselves. The zero-delay mega host and the huge-delay host keep
  their delays, so every seed has the salted top-k path and a politeness
  tail.

The curate documents are a seeded DuckDB copy of the
``scripts/ops_scale.py --stopwords`` SQL: the run seed enters every md5
word draw.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from crawler_spark import fixtures as fx
from crawler_spark.urltools import registrable_domain

BULK_PRODUCTS = 10_000
CURATE_DOCS = 4_000


def bulk_spec() -> fx.CorpusSpec:
    return fx.bench_spec(n_products=BULK_PRODUCTS)


def ensure_pages(work: str) -> str:
    """The fixed page corpus, generated once per checkout."""
    return fx.ensure_corpus(bulk_spec(), os.path.join(work, "corpus"),
                            registrable_domain)


def crawl_tables(corpus_dir: str, seed: int) -> tuple[list[dict], dict]:
    """(seeds rows, robots map) for ``seed``, in the oracle's shapes."""
    base_seeds = pq.read_table(
        os.path.join(corpus_dir, "seeds.parquet"), columns=["url", "seed_order"]
    ).to_pylist()
    base_robots = pq.read_table(
        os.path.join(corpus_dir, "robots.parquet")
    ).to_pylist()
    rng = random.Random(seed)
    n_hosts = bulk_spec().n_hosts
    cat_seeds = sorted(
        (s for s in base_seeds if s["seed_order"] < n_hosts),
        key=lambda s: s["seed_order"],
    )
    order = list(range(len(cat_seeds)))
    rng.shuffle(order)
    seeds = [
        {"url": s["url"], "seed_order": o} for s, o in zip(cat_seeds, order)
    ] + [s for s in base_seeds if s["seed_order"] >= n_hosts]
    robots = {
        r["host"]: {
            "crawl_delay_ms": r["crawl_delay_ms"],
            "disallow_prefixes": list(r["disallow_prefixes"] or []),
        }
        for r in base_robots
    }
    ordinary = sorted(
        h for h, r in robots.items()
        if 0 < r["crawl_delay_ms"] < fx._HUGE_DELAY_MS
    )
    delays = [robots[h]["crawl_delay_ms"] for h in ordinary]
    rng.shuffle(delays)
    for h, d in zip(ordinary, delays):
        robots[h]["crawl_delay_ms"] = d
    return seeds, robots


def write_crawl_tables(
    corpus_dir: str, seed: int, outdir: str
) -> tuple[list[dict], dict]:
    """Write ``seeds.parquet`` and ``robots.parquet`` for ``seed``."""
    seeds, robots = crawl_tables(corpus_dir, seed)
    os.makedirs(outdir, exist_ok=True)
    ts = fx._BASE_TS
    pq.write_table(
        pa.table(
            {
                "url": [s["url"] for s in seeds],
                "priority_ts": [ts] * len(seeds),
                "seed_order": [s["seed_order"] for s in seeds],
            },
            schema=pa.schema([
                ("url", pa.string()),
                ("priority_ts", pa.timestamp("us", tz="UTC")),
                ("seed_order", pa.int64()),
            ]),
        ),
        os.path.join(outdir, "seeds.parquet"),
    )
    hosts = sorted(robots)
    pq.write_table(
        pa.table(
            {
                "host": hosts,
                "crawl_delay_ms": [robots[h]["crawl_delay_ms"] for h in hosts],
                "disallow_prefixes": [
                    robots[h]["disallow_prefixes"] for h in hosts
                ],
            },
            schema=pa.schema([
                ("host", pa.string()),
                ("crawl_delay_ms", pa.int64()),
                ("disallow_prefixes", pa.list_(pa.string())),
            ]),
        ),
        os.path.join(outdir, "robots.parquet"),
    )
    return seeds, robots


def load_pages(corpus_dir: str, column: str) -> dict:
    """url -> one ``pages`` column: ``html`` (the oracle's corpus view) or
    ``text`` (the ground-truth rendering)."""
    t = pq.read_table(os.path.join(corpus_dir, "pages.parquet"),
                      columns=["url", column])
    return dict(zip(t.column("url").to_pylist(), t.column(column).to_pylist()))


# scripts/ops_scale.py GEN_SQL with stopwords on, ported to DuckDB (so
# generation needs no Spark job) with the run seed in every md5 draw:
# 40-200 words from a 4096-word pool, a stopword every 6th position, 2%
# exact and 3% near duplicates. Every operand is non-negative, so % is
# Spark's pmod; the rows equal those of the same SQL run in Spark (checked
# for seed 1, 4,000 docs).
DOCS_SQL = """
SELECT doc_id,
       base_text AS text,
       ['en','de','fr','es','zh'][(doc_id % 5) + 1] AS lang,
       concat('src', doc_id % 8) AS source,
       CAST(length(base_text) AS INTEGER) AS n_chars
FROM (
  SELECT doc_id, seed_id,
         array_to_string(list_transform(
           generate_series(1, 40 + (seed_id * 2654435761) % 161),
           i -> CASE WHEN i % 6 = 0 THEN
                  ['the','and','of','to','a','is','in','it'][
                    CAST((seed_id + i) % 8 + 1 AS INTEGER)]
                ELSE
                  concat('w', (CAST(('0x' || substring(md5(concat(
                    '{seed}:', CAST(seed_id AS VARCHAR), ':',
                    CAST(i AS VARCHAR))), 1, 8)) AS BIGINT)
                    + CASE WHEN near_dup AND i % 16 = 0 THEN 1 ELSE 0 END)
                    % 4096)
                END), ' ') AS base_text
  FROM (
    SELECT id AS doc_id,
           CASE WHEN id % 50 = 1 THEN id - 1
                WHEN id % 33 = 2 THEN id - 2
                ELSE id END AS seed_id,
           id % 33 = 2 AS near_dup
    FROM range(0, {n}) t(id)
  )
)
ORDER BY doc_id
"""
DOCS_FILES = 8


def docs_table(seed: int, n: int = CURATE_DOCS) -> pa.Table:
    import duckdb

    with duckdb.connect() as con:
        return con.execute(
            DOCS_SQL.format(seed=int(seed), n=int(n))
        ).fetch_arrow_table()


def write_docs(seed: int, path: str) -> None:
    """The curate documents for ``seed`` as ``DOCS_FILES`` parquet files."""
    t = docs_table(seed)
    os.makedirs(path, exist_ok=True)
    step = -(-t.num_rows // DOCS_FILES)
    for k in range(DOCS_FILES):
        pq.write_table(t.slice(k * step, step),
                       os.path.join(path, f"part-{k:02d}.parquet"))
