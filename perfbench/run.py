#!/usr/bin/env python3
"""Crawl-and-curate benchmark: one command, end-to-end and per-layer metrics.

    python3 perfbench/run.py --workload crawl-bulk|curate --seed N \\
        --seconds S --trace 0|1

Run from the repository root. Each run generates its inputs from
``--seed``, starts a local Spark session, sets up the program through its
public entry points (``CrawlEngine(...)``, ``run_training_pipeline()``)
several times, then repeats one unit of work until ``--seconds`` have
passed (at least one unit): a capped crawl of ``CRAWL_CAP`` supersteps
driven by ``CrawlEngine.run_superstep()``, or one curation pipeline run.
Every unit's output is checked; a unit that raises or fails its check
counts as failed. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``
(Spark event log on, spans around each entry-point call). Metric names,
units and directions are listed in BENCHMARK.json; perfbench/LAYERS.md
says which end-to-end metric each layer metric should move. On every way
out, also after an error or a SIGTERM, the run stops the driver JVM and
waits until every process it started, Python workers included, has ended.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", "_work")

# crawl-bulk: bench.py's 1 h politeness window at a fixed cadence (no
# adaptive widening, no early stop), so the oracle reproduces the exact
# crawl order for every seed. Four supersteps reach the two fat ones.
CRAWL_CAP = 4
BULK_BUDGET_MS = 3_600_000
BULK_MAX_K = 500_000
# compaction every 3 supersteps puts one compaction inside the cap
BULK_COMPACT_EVERY = 3
# set-up is repeated and reported as a median (the first one is cold)
SETUPS = 3
DRIVER_MEM = "3g"

PIPELINE_STAGES = ["quality_gate", "exact_dedup", "near_dup_dedup",
                   "ccnet_gate", "pack", "shard_write"]


class Run:
    """Per-run state: directories, check counters and the Spark session."""

    def __init__(self, args):
        self.args = args
        self.dir = os.path.join(WORK, f"run-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.session_s = 0.0
        self.log_dir = os.path.join(self.dir, "eventlog")
        self.t_born = time.monotonic()
        self.tmp = os.path.join(self.dir, "tmp")

    def start_spark(self) -> None:
        from crawler_spark.session import get_spark

        # a fixed-size heap: peak RSS then does not follow G1's resizing
        extra = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEM} -XX:-UsePerfData -Djava.io.tmpdir={self.tmp}",
        }
        if self.args.trace:
            os.makedirs(self.log_dir, exist_ok=True)
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.log_dir,
                "spark.eventLog.compress": "false",
            })
        t0 = time.monotonic()
        self.spark = get_spark("perfbench", extra=extra)
        self.session_s = time.monotonic() - t0

    def stop_spark(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def log(self, what: str) -> None:
        print(f"perfbench {time.monotonic() - self.t_born:7.2f}s {what}",
              file=sys.stderr, flush=True)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"check failed: {what}", file=sys.stderr)

    def until(self, t_start: float, units: int) -> bool:
        return units == 0 or time.monotonic() - t_start < self.args.seconds


def _median(xs):
    return float(statistics.median(xs)) if xs else 0.0


def peak_rss_mb(spark) -> float:
    """VmHWM of this Python process plus the driver JVM, in MB."""
    pids = [os.getpid()]
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        pids.append(proc.pid)
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    return kb / 1024.0


PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Adopt orphaned descendants (the JVM's Python workers outlive the
    JVM), so that end_descendants can wait for every one of them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def descendants() -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                ppid = int(f.read().rsplit(b")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        for pid in children.get(todo.pop(), []):
            out.append(pid)
            todo.append(pid)
    return out


def end_descendants(grace_s: float = 30.0) -> None:
    """Stop the driver JVM and wait until every process this run started
    has ended and been reaped; kill what is still running after
    ``grace_s``.

    pyspark keeps the JVM until its stdin closes, and the JVM leaves its
    Python workers to end on their own after it exits. As a subreaper this
    process inherits every orphan, so having no child left means that no
    descendant is left.
    """
    from pyspark import SparkContext

    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    jvm = getattr(SparkContext._gateway, "proc", None)
    if jvm is not None and jvm.stdin is not None:
        jvm.stdin.close()
    deadline = time.monotonic() + grace_s
    killed = False
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG)[0]:
                continue
        except ChildProcessError:
            return
        if time.monotonic() > deadline:
            left = descendants()
            if killed:
                raise RuntimeError(f"processes {left} did not end")
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
            deadline = time.monotonic() + 10.0
        time.sleep(0.05)


def _dir_stats(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size


# ---------------------------------------------------------------------------
# crawl-bulk
# ---------------------------------------------------------------------------


def _golden(run: Run, corpus: str, seeds: list, robots: dict):
    """The oracle's capped crawl for these tables. It runs in a child
    process, so the oracle's memory stays out of the driver's peak RSS."""
    args = os.path.join(run.dir, "golden-args.pkl")
    out = os.path.join(run.dir, "golden.pkl")
    with open(args, "wb") as f:
        pickle.dump((corpus, seeds, robots), f)
    subprocess.run([sys.executable, os.path.abspath(__file__), "--golden",
                    args, out], check=True)
    with open(out, "rb") as f:
        return pickle.load(f)


def _golden_child(args: str, out: str) -> int:
    from crawler_spark import oracle
    from crawler_spark.urltools import registrable_domain

    import inputs

    with open(args, "rb") as f:
        corpus, seeds, robots = pickle.load(f)
    golden = oracle.simulate_crawl(
        inputs.load_pages(corpus, "html"), seeds, robots, registrable_domain,
        budget_ms=BULK_BUDGET_MS, max_k=BULK_MAX_K, max_supersteps=CRAWL_CAP,
    )
    with open(out, "wb") as f:
        pickle.dump(golden, f)
    return 0


def crawl_bulk(run: Run) -> dict:
    import inputs

    corpus = inputs.ensure_pages(WORK)
    tables = os.path.join(run.dir, "tables")
    seeds, robots = inputs.write_crawl_tables(corpus, run.args.seed, tables)
    golden = _golden(run, corpus, seeds, robots)
    truth = inputs.load_pages(corpus, "text")
    run.log("oracle done")
    run.start_spark()
    run.log("session started")
    from crawler_spark.engine import CrawlEngine, EngineConfig

    cfg = EngineConfig(
        budget_ms=BULK_BUDGET_MS, max_k=BULK_MAX_K, bloom_bits=1 << 21,
        compact_every=BULK_COMPACT_EVERY,
    )
    def engine(i: int):
        state = os.path.join(run.dir, f"state{i}")
        t0 = time.monotonic()
        eng = CrawlEngine(
            run.spark,
            pages_path=f"{corpus}/pages.parquet",
            seeds_path=f"{tables}/seeds.parquet",
            robots_path=f"{tables}/robots.parquet",
            state_dir=state,
            config=cfg,
            fresh=True,
        )
        return eng, time.monotonic() - t0

    setups = []
    for i in range(SETUPS):
        eng, dt = engine(i)
        setups.append(dt)
    run.log(f"set-ups {[round(x, 2) for x in setups]}")
    steps: list[dict] = []
    units: list[dict] = []
    t_start = time.monotonic()
    while run.until(t_start, len(units)):
        if units:
            eng, dt = engine(SETUPS + len(units))
            setups.append(dt)
        try:
            unit = _crawl_unit(run, eng, golden, truth)
        except Exception:
            traceback.print_exc()
            run.attempted += 1
            run.failed += 1
            break
        units.append(unit)
        steps.extend(unit["steps"])
    if not steps:
        raise RuntimeError("no crawl unit completed")
    wall = sum(s["secs"] for s in steps)
    fetched = sum(s["info"]["fetched"] for s in steps)
    new = sum(s["info"]["new_urls"] for s in steps)
    e2e = {
        "input_per_s": fetched / wall,
        "output_per_s": new / wall,
        "step_p50_s": _median([s["secs"] for s in steps]),
        "setup_s": run.session_s + _median(setups),
        "peak_rss_mb": peak_rss_mb(run.spark),
    }
    if not run.args.trace:
        return e2e
    last = units[-1]
    run.stop_spark()
    from eventlog import find_log, read_jobs

    jobs = read_jobs(find_log(run.log_dir))
    return {**_crawl_layers(steps, last, jobs), **_trace_e2e(e2e),
            **dict.fromkeys(PIPELINE_LAYERS, 0.0)}


def _crawl_unit(run: Run, eng, golden, truth) -> dict:
    """One capped crawl; checks order, url_seen and text bytes."""
    steps = []
    for _ in range(CRAWL_CAP):
        t0, m0 = time.time(), time.monotonic()
        info = eng.run_superstep()
        steps.append({"t0": t0 * 1e3, "t1": time.time() * 1e3,
                      "secs": time.monotonic() - m0, "info": info})
        run.log(f"superstep {info['superstep']}: {info['fetched']} pages "
                f"in {steps[-1]['secs']:.2f}s")
        if info.get("done"):
            break
    store = eng.store
    c = store.manifest["counters"]
    run.check(
        store.manifest["superstep"] == golden.supersteps
        and c["pages_fetched"] == len(golden.crawl_order),
        f"supersteps/pages_fetched {store.manifest['superstep']}/"
        f"{c['pages_fetched']} != {golden.supersteps}/{len(golden.crawl_order)}",
    )
    rows = (
        store.read("crawl_log")
        .orderBy("superstep", "host", "host_rank")
        .select("url", "superstep", "host_rank")
        .collect()
    )
    run.check(
        [(r.url, r.superstep, r.host_rank) for r in rows] == golden.crawl_order,
        "crawl order differs from the oracle",
    )
    run.check(
        {r.url for r in rows} == golden.url_seen,
        "url_seen set differs from the oracle",
    )
    prods = {
        r.url: r.text
        for r in store.read("products").select("url", "text").collect()
    }
    run.check(
        set(prods) == set(golden.text_by_url)
        and all(
            (t or "").encode() == golden.text_by_url[u].encode()
            == (truth[u] or "").encode()
            for u, t in prods.items()
        ),
        "product text is not byte-identical to the oracle and pages.text",
    )
    n_products = len(prods)
    n_cats = store.read("categories").count()
    run.log("crawl checked")
    return {
        "steps": steps,
        "products": n_products,
        "categories": n_cats,
        "bloom_fill": eng.bloom.fill_ratio(),
        "bloom_nbytes": eng.bloom.nbytes,
        "state": _dir_stats(store.root),
        "fetched": c["pages_fetched"],
    }


E2E = {
    "input_per_s": "items/s",
    "output_per_s": "rows/s",
    "step_p50_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "ok_ratio": "ratio",
}

CRAWL_LAYERS = {
    "engine.superstep_s": "s",
    "engine.jobs_per_superstep": "count",
    "engine.tasks_per_superstep": "count",
    "engine.driver_gap_s": "s",
    "engine.fetch_join_s": "s",
    "engine.frontier_wait_s": "s",
    "engine.accounted_ratio": "ratio",
    "politeness.take_s": "s",
    "politeness.batch_rows": "rows",
    "politeness.jobs": "count",
    "extract.detail_s": "s",
    "extract.listing_s": "s",
    "extract.rows": "rows",
    "extract.error_ratio": "ratio",
    "succ.chain_s": "s",
    "succ.jobs": "count",
    "succ.new_rows": "rows",
    "succ.new_per_fetched": "ratio",
    "bloom.delta_s": "s",
    "bloom.save_s": "s",
    "bloom.fill_ratio": "ratio",
    "bloom.nbytes": "bytes",
    "statestore.frontier_write_s": "s",
    "statestore.tail_s": "s",
    "statestore.compact_s": "s",
    "statestore.bytes_written_per_page": "bytes/page",
    "statestore.files": "count",
}

PIPELINE_LAYERS = {
    **{f"pipeline.{s}_s": "s" for s in PIPELINE_STAGES},
    **{f"pipeline.{s}_keep_ratio": "ratio" for s in PIPELINE_STAGES},
    "pipeline.jobs": "count",
}

TRACE_E2E = {"trace.input_per_s": "items/s", "trace.step_p50_s": "s"}

# job-description phase groups (engine._jd names) in superstep order;
# groups run one after another, the chains inside a group concurrently
PHASE_GROUPS = {
    "politeness": ("politeness_take", "kind_counts"),
    "fetch": ("fetch_materialize",),
    "chains": ("detail_materialize", "brands_write", "products_write",
               "img_cache_write", "listing_entities", "categories_count",
               "categories_write", "frontier", "succ_dedup",
               "frontier_write"),
    "tail": ("bloom_delta", "lineage_agg", "links_write", "errors_write",
             "checkpoint_write", "compact_"),
}


def _group_of(phase: str) -> str | None:
    for g, names in PHASE_GROUPS.items():
        if any(phase == n or (n.endswith("_") and phase.startswith(n))
               for n in names):
            return g
    return None


def _crawl_layers(steps: list[dict], last: dict, jobs: list[dict]) -> dict:
    from eventlog import busy_ms, within

    per: dict[str, list[float]] = {k: [] for k in (
        "jobs", "tasks", "gap", "accounted", "pol_jobs", "succ_jobs",
        "compact")}
    for st in steps:
        s = st["info"]["superstep"]
        mine = within(jobs, st["t0"], st["t1"])
        span = st["t1"] - st["t0"]
        busy = busy_ms(mine, st["t0"], st["t1"])
        per["jobs"].append(len(mine))
        per["tasks"].append(sum(j["tasks"] for j in mine))
        per["gap"].append((span - busy) / 1e3)
        phase = {}
        for j in mine:
            if j["desc"].startswith(f"s{s}:"):
                phase.setdefault(j["desc"].split(":", 1)[1], []).append(j)
        groups: dict[str, list] = {}
        for name, js in phase.items():
            g = _group_of(name)
            if g is not None:
                groups.setdefault(g, []).extend(js)
        grouped = sum(busy_ms(js, st["t0"], st["t1"])
                      for js in groups.values())
        per["accounted"].append((grouped + span - busy) / span)
        per["pol_jobs"].append(len(phase.get("politeness_take", []))
                               + len(phase.get("kind_counts", [])))
        per["succ_jobs"].append(len(phase.get("frontier", []))
                                + len(phase.get("succ_dedup", [])))
        compact = [j for n, js in phase.items() if n.startswith("compact_")
                   for j in js]
        if compact:
            per["compact"].append(busy_ms(compact, st["t0"], st["t1"]) / 1e3)

    def ph(name):
        return _median([st["info"]["phases"][name] for st in steps
                        if name in st["info"].get("phases", {})])

    fetched = sum(st["info"]["fetched"] for st in steps)
    new = sum(st["info"]["new_urls"] for st in steps)
    errs = sum(st["info"]["errors"] for st in steps)
    n_files, n_bytes = last["state"]
    vals = {
        "engine.superstep_s": _median([st["secs"] for st in steps]),
        "engine.jobs_per_superstep": _median(per["jobs"]),
        "engine.tasks_per_superstep": _median(per["tasks"]),
        "engine.driver_gap_s": _median(per["gap"]),
        "engine.fetch_join_s": ph("fetch_join"),
        "engine.frontier_wait_s": ph("frontier_wait"),
        "engine.accounted_ratio": _median(per["accounted"]),
        "politeness.take_s": ph("politeness"),
        "politeness.batch_rows": _median(
            [st["info"]["fetched"] for st in steps]),
        "politeness.jobs": _median(per["pol_jobs"]),
        "extract.detail_s": ph("detail_materialize"),
        "extract.listing_s": ph("listing_entities"),
        "extract.rows": last["products"] + last["categories"],
        "extract.error_ratio": errs / fetched,
        "succ.chain_s": ph("frontier_new_rows"),
        "succ.jobs": _median(per["succ_jobs"]),
        "succ.new_rows": new,
        "succ.new_per_fetched": new / fetched,
        "bloom.delta_s": ph("lineage_agg_bloom"),
        "bloom.save_s": ph("bloom_save"),
        "bloom.fill_ratio": last["bloom_fill"],
        "bloom.nbytes": last["bloom_nbytes"],
        "statestore.frontier_write_s": ph("frontier_write"),
        "statestore.tail_s": ph("checkpoint_errors_compact"),
        "statestore.compact_s": _median(per["compact"]),
        "statestore.bytes_written_per_page": n_bytes / last["fetched"],
        "statestore.files": n_files,
    }
    return vals


def _trace_e2e(e2e: dict) -> dict:
    return {"trace.input_per_s": e2e["input_per_s"],
            "trace.step_p50_s": e2e["step_p50_s"]}


# ---------------------------------------------------------------------------
# curate
# ---------------------------------------------------------------------------

EXPECTED = os.path.join(ROOT, "perfbench", "expected.json")


def curate(run: Run) -> dict:
    import inputs

    docs_path = os.path.join(run.dir, "docs")
    inputs.write_docs(run.args.seed, docs_path)
    run.start_spark()
    run.log("session started")
    from crawler_spark.pipeline import run_training_pipeline

    spark = run.spark
    spark.sparkContext.setJobDescription("curate")
    setups = []
    for _ in range(SETUPS):
        t0 = time.monotonic()
        spark.read.parquet(docs_path).count()
        setups.append(time.monotonic() - t0)
    run.log(f"set-ups {[round(x, 2) for x in setups]}")
    with open(EXPECTED, encoding="utf-8") as f:
        expected = json.load(f)["curate"].get(str(run.args.seed))
    units: list[dict] = []
    t_start = time.monotonic()
    while run.until(t_start, len(units)):
        out = os.path.join(run.dir, f"out{len(units)}")
        try:
            t0e, t0 = time.time(), time.monotonic()
            _, counts = run_training_pipeline(
                spark, spark.read.parquet(docs_path), out_dir=out
            )
            wall = time.monotonic() - t0
            t1e = time.time()
            unit = _curate_unit(run, out, counts, expected, units, t0e * 1e3)
        except Exception:
            traceback.print_exc()
            run.attempted += 1
            run.failed += 1
            break
        unit.update(wall=wall, t0=t0e * 1e3, t1=t1e * 1e3)
        run.log(f"pipeline {wall:.2f}s, stages "
                f"{[round(x, 2) for x in unit['stage_s']]}, {counts}")
        units.append(unit)
    if not units:
        raise RuntimeError("no curate unit completed")
    wall = sum(u["wall"] for u in units)
    steps = [d for u in units for d in u["stage_s"]]
    e2e = {
        "input_per_s": sum(u["counts"]["input"] for u in units) / wall,
        "output_per_s": sum(u["counts"]["packed_docs"] for u in units) / wall,
        "step_p50_s": _median(steps),
        "setup_s": run.session_s + _median(setups),
        "peak_rss_mb": peak_rss_mb(spark),
    }
    if not run.args.trace:
        return e2e
    run.stop_spark()
    from eventlog import find_log, read_jobs, read_writes, within

    log = find_log(run.log_dir)
    last = units[-1]
    mine = within(read_jobs(log), last["t0"], last["t1"])
    # the shard write is the SQL execution that writes <out>/packed
    packed_dir = os.path.join(last["out"], "packed")
    writes = [w for w in read_writes(log)
              if last["t0"] <= w["start"] <= last["t1"] and packed_dir in w["plan"]]
    write_s = sum(w["end"] - w["start"] for w in writes) / 1e3
    stage_s = list(last["stage_s"][:4]) + [
        max(0.0, last["stage_s"][4] - write_s), write_s]
    c = last["counts"]
    chain = [c["input"], c["quality_gate"], c["exact_dedup"],
             c["near_dup_dedup"], c["ccnet_gate"], c["packed_docs"],
             last["written"]]
    vals = {}
    for i, stage in enumerate(PIPELINE_STAGES):
        vals[f"pipeline.{stage}_s"] = stage_s[i]
        vals[f"pipeline.{stage}_keep_ratio"] = chain[i + 1] / chain[i]
    vals["pipeline.jobs"] = len(mine)
    return {**dict.fromkeys(CRAWL_LAYERS, 0.0), **_trace_e2e(e2e), **vals}


def _curate_unit(
    run: Run, out: str, counts: dict, expected, prev, t0_ms: float
) -> dict:
    """Per-stage accounting, packing invariants and the output fingerprint."""
    from crawler_spark.operators.textstats import _PACK_SEQ_LEN

    spark = run.spark
    marks = [os.path.getmtime(os.path.join(out, "stages", s, "_SUCCESS"))
             * 1e3 for s in PIPELINE_STAGES[:4]]
    marks.append(os.path.getmtime(os.path.join(out, "packed", "_SUCCESS"))
                 * 1e3)
    packed = spark.read.parquet(os.path.join(out, "packed"))
    rows = packed.select("doc_id", "lang", "shard", "n_tok", "tok_start",
                         "seq_id", "seq_offset").collect()
    fp = packed.selectExpr(
        "count(*) AS n",
        "sum(pmod(xxhash64(doc_id, lang, shard, n_tok, tok_start, seq_id, "
        "seq_offset), 2147483647)) AS h",
    ).first()
    fingerprint = f"{fp['n']}:{fp['h']}"
    run.log(f"fingerprint {fingerprint}")
    chain = [counts[k] for k in ("input", "quality_gate", "exact_dedup",
                                 "near_dup_dedup", "ccnet_gate")]
    run.check(
        all(a >= b for a, b in zip(chain, chain[1:]))
        and counts["ccnet_gate"] == counts["packed_docs"] == len(rows),
        f"stage accounting is not a non-increasing chain: {counts}",
    )
    run.check(len({r.doc_id for r in rows}) == len(rows),
              "a document is packed twice")
    by_shard: dict = {}
    for r in sorted(rows, key=lambda r: r.doc_id):
        by_shard.setdefault((r.lang, r.shard), []).append(r)
    ok = True
    for rs in by_shard.values():
        acc = 0
        for r in rs:
            ok &= (r.tok_start == acc and r.seq_id == acc // _PACK_SEQ_LEN
                   and r.seq_offset == acc % _PACK_SEQ_LEN)
            acc += r.n_tok
    run.check(ok, "packed token offsets are not running sums per shard")
    dups = (
        spark.read.parquet(os.path.join(out, "stages", "ccnet_gate"))
        .join(spark.read.parquet(os.path.join(run.dir, "docs")), "doc_id")
        .groupBy("text").count().where("count > 1").count()
    )
    run.check(dups == 0, "exact duplicates survived the pipeline")
    got = {"counts": counts, "fingerprint": fingerprint}
    if expected is not None:
        run.check(got == expected, f"accounting {got} != recorded {expected}")
    if prev:
        run.check(
            got == {"counts": prev[0]["counts"],
                    "fingerprint": prev[0]["fingerprint"]},
            "a repeated pipeline run gave different output",
        )
    t = [t0_ms] + marks
    stage_s = [(b - a) / 1e3 for a, b in zip(t, t[1:])]
    return {
        "counts": counts,
        "fingerprint": fingerprint,
        "marks": marks,
        "stage_s": stage_s,
        "written": len(rows),
        "out": out,
    }


WORKLOADS = {"crawl-bulk": crawl_bulk, "curate": curate}


def result_line(values: dict, attempted: int, failed: int) -> str:
    """The benchmark's last stdout line: every metric by name and unit."""
    units = {**E2E, **CRAWL_LAYERS, **PIPELINE_LAYERS, **TRACE_E2E}
    return json.dumps({
        "correct": failed == 0,
        "attempted": max(1, attempted),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in values.items()},
    })


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "crawler_spark", "engine.py")):
        print(f"perfbench: no crawler_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    # Python workers import crawler_spark (UDFs pickle by module path)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["CRAWLER_SPARK_DRIVER_MEM"] = DRIVER_MEM
    run = Run(args)
    shutil.rmtree(run.dir, ignore_errors=True)
    os.makedirs(run.tmp)
    # keep Spark's scratch space and temp files inside the checkout
    os.environ["TMPDIR"] = run.tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run.dir, "local")
    become_subreaper()
    # a SIGTERM unwinds through the finally below, which ends the children
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        metrics = WORKLOADS[args.workload](run)
    finally:
        try:
            run.stop_spark()
        finally:
            end_descendants()
            shutil.rmtree(run.dir, ignore_errors=True)
    if not args.trace:
        metrics["ok_ratio"] = (
            (run.attempted - run.failed) / max(1, run.attempted))
    print(result_line(metrics, run.attempted, run.failed))
    return 0


if __name__ == "__main__":
    if sys.argv[1:2] == ["--golden"]:
        sys.exit(_golden_child(*sys.argv[2:]))
    sys.exit(main())
