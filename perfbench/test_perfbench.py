"""The benchmark's own tests: seeded inputs, metric names, failure exit.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

None of them starts Spark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402


@pytest.fixture(scope="module")
def corpus_dir(tmp_path_factory):
    return inputs.ensure_pages(str(tmp_path_factory.mktemp("work")))


def test_crawl_tables_same_seed_same_inputs(corpus_dir, tmp_path):
    assert inputs.crawl_tables(corpus_dir, 7) == inputs.crawl_tables(
        corpus_dir, 7)
    a = inputs.write_crawl_tables(corpus_dir, 7, str(tmp_path / "a"))
    b = inputs.write_crawl_tables(corpus_dir, 7, str(tmp_path / "b"))
    assert a == b
    for name in ("seeds.parquet", "robots.parquet"):
        with open(tmp_path / "a" / name, "rb") as fa, \
                open(tmp_path / "b" / name, "rb") as fb:
            assert fa.read() == fb.read()


def test_crawl_tables_vary_by_seed_and_keep_special_hosts(corpus_dir):
    base_seeds, base_robots = inputs.crawl_tables(corpus_dir, 1)
    other_seeds, other_robots = inputs.crawl_tables(corpus_dir, 2)
    assert base_seeds != other_seeds
    assert base_robots != other_robots
    # same hosts, same multiset of delays; mega and huge-delay hosts fixed
    assert set(base_robots) == set(other_robots)
    assert sorted(r["crawl_delay_ms"] for r in base_robots.values()) == sorted(
        r["crawl_delay_ms"] for r in other_robots.values())
    for h, r in base_robots.items():
        if r["crawl_delay_ms"] in (0, inputs.fx._HUGE_DELAY_MS):
            assert other_robots[h] == r
    assert sorted(s["seed_order"] for s in base_seeds) == sorted(
        s["seed_order"] for s in other_seeds)


def test_docs_are_seeded_and_plant_duplicates():
    a = inputs.docs_table(3, n=200)
    assert a.equals(inputs.docs_table(3, n=200))
    b = inputs.docs_table(4, n=200)
    assert a.column("text") != b.column("text")
    text = a.column("text").to_pylist()
    assert text[1] == text[0]  # doc 1 is an exact duplicate of doc 0
    assert text[35] != text[33] and text[35].split()[:15] == text[33].split()[:15]
    assert a.column("doc_id").to_pylist() == list(range(200))


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        **run.CRAWL_LAYERS, **run.PIPELINE_LAYERS, **run.TRACE_E2E}
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(
        run.WORKLOADS)


def test_result_line_has_every_metric_by_name_and_unit():
    values = {k: 1.5 for k in run.E2E}
    line = json.loads(run.result_line(values, attempted=3, failed=1))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is False
    assert line["metrics"]["setup_s"] == {"value": 1.5, "unit": "s"}
    assert set(line["metrics"]) == set(run.E2E)


def test_busy_union_clips_and_merges():
    jobs = [{"start": 0, "end": 10}, {"start": 5, "end": 20},
            {"start": 30, "end": 40}, {"start": 50, "end": 50}]
    assert eventlog.busy_ms(jobs, 0, 100) == 30
    assert eventlog.busy_ms(jobs, 8, 35) == 17


def test_end_descendants_waits_for_orphans():
    # a background grandchild is orphaned at once and adopted by the
    # subreaper; the benchmark must not exit before it has ended
    code = (
        "import time, subprocess, run\n"
        "run.become_subreaper()\n"
        "subprocess.run(['sh', '-c', 'sleep 1 &'], check=True)\n"
        "assert run.descendants()\n"
        "t0 = time.monotonic()\n"
        "run.end_descendants()\n"
        "assert not run.descendants()\n"
        "print(time.monotonic() - t0)\n"
    )
    p = subprocess.run([sys.executable, "-c", code], cwd=HERE,
                       capture_output=True, text=True, timeout=60)
    assert p.returncode == 0, p.stderr
    assert float(p.stdout) > 0.5


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "curate",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
