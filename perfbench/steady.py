#!/usr/bin/env python3
"""Steadiness study: repeat the benchmark over seeds and summarize spreads.

    python3 perfbench/steady.py --workload crawl-bulk --seeds 1-10 \\
        [--seconds 20] [--trace 0] [--out perfbench/steadiness.json]

    python3 perfbench/steady.py --report perfbench/steadiness.json
    python3 perfbench/steady.py --record perfbench/steadiness.json

Runs ``perfbench/run.py`` once per seed, one after another, from the
repository root and prints, per metric, the median, the first and third
quartiles (``statistics.quantiles(values, n=4)``) and the spread: the
interquartile distance as a share of the median. With ``--out`` the raw
values and the summary are merged into that JSON file under the workload
name and the run's label (``--label``, default ``set1``; traced runs add
``/trace``). ``--report`` prints a Markdown table of every set in a file.
``--record`` writes the curate accounting and output fingerprint each
untraced run logged into ``perfbench/expected.json``, keyed by seed. A run
that leaves a process running after it exits stops the study.
"""

from __future__ import annotations

import argparse
import ast
import json
import os
import statistics
import subprocess
import sys
import time

import run as bench

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seed_list(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / med if med else 0.0,
    }


def report(path: str) -> str:
    with open(path, encoding="utf-8") as f:
        data = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = {m["name"]: m for m in json.load(f)["end_to_end"]}
    lines = []
    for key, d in data.items():
        seeds = [r["seed"] for r in d["runs"]]
        lines += [
            f"### {key}: {len(seeds)} runs, seeds {seeds}, "
            f"--seconds {d['seconds']}, all correct: {d['all_correct']}",
            "",
            "| metric | unit | median | q1 | q3 | spread |",
            "|---|---|---|---|---|---|",
        ]
        for k, v in d["summary"].items():
            lines.append(
                f"| {k} | {v.get('unit', 's')} | {v['median']:.5g} | "
                f"{v['q1']:.5g} | {v['q3']:.5g} | {v['spread']:.4f} |")
        lines.append("")
    # the acceptance rule: spread within the bound (setup_s exempt), and a
    # later set's median no worse than the first's by more than the bound
    sets: dict[str, list] = {}
    for key, d in data.items():
        if not key.endswith("/trace"):
            sets.setdefault(key.split("/")[0], []).append((key, d))
    for wl, runs in sets.items():
        first_key, first = runs[0]
        lines += [f"### {wl}: each set against {first_key}", "",
                  "| set | metric | spread / bound | median shift (worse +) "
                  "| bound |", "|---|---|---|---|---|"]
        for key, d in runs:
            for k, m in spec.items():
                a = first["summary"][k]["median"]
                b = d["summary"][k]["median"]
                worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
                lines.append(
                    f"| {key} | {k} | "
                    f"{d['summary'][k]['spread'] / m['bound']:.2f} | "
                    f"{worse:+.4f} | {m['bound']} |")
        lines.append("")
    return "\n".join(lines)


def record(path: str) -> dict:
    """seed -> {"counts", "fingerprint"} from the curate runs' logs."""
    with open(path, encoding="utf-8") as f:
        data = json.load(f)
    out: dict = {}
    for key, d in data.items():
        if not key.startswith("curate/") or key.endswith("/trace"):
            continue
        for r in d["runs"]:
            fps = [ln.split("fingerprint ")[1] for ln in r["log"]
                   if " fingerprint " in ln]
            counts = [ast.literal_eval(ln[ln.index("{"):]) for ln in r["log"]
                      if " pipeline " in ln]
            got = {"counts": counts[0], "fingerprint": fps[0]}
            if out.setdefault(str(r["seed"]), got) != got:
                raise SystemExit(f"seed {r['seed']}: runs disagree")
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    ap.add_argument("--label", default="set1")
    ap.add_argument("--report")
    ap.add_argument("--record")
    args = ap.parse_args()
    if args.report:
        print(report(args.report))
        return 0
    if args.record:
        exp = os.path.join(ROOT, "perfbench", "expected.json")
        with open(exp, "w", encoding="utf-8") as f:
            json.dump({"curate": record(args.record)}, f, indent=1,
                      sort_keys=True)
            f.write("\n")
        return 0
    # orphans of a run come here, so any descendant left is a leak
    bench.become_subreaper()
    runs = []
    for seed in seed_list(args.seeds):
        t0 = time.monotonic()
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True, check=False,
        )
        wall = time.monotonic() - t0
        left = bench.descendants()
        if left:
            raise SystemExit(f"seed {seed}: processes left running: {left}")
        if p.returncode != 0:
            sys.stderr.write(p.stderr[-3000:])
            raise SystemExit(f"seed {seed}: exit {p.returncode}")
        res = json.loads(p.stdout.strip().splitlines()[-1])
        res["seed"] = seed
        res["wall_s"] = wall
        res["log"] = [ln for ln in p.stderr.splitlines()
                      if ln.startswith(("perfbench ", "check failed"))]
        runs.append(res)
        print(f"seed {seed}: {wall:.1f}s correct={res['correct']} "
              + " ".join(f"{k}={v['value']:.4g}"
                         for k, v in res["metrics"].items()), flush=True)
    names = list(runs[0]["metrics"])
    summary = {
        k: {**summarize([r["metrics"][k]["value"] for r in runs]),
            "unit": runs[0]["metrics"][k]["unit"]}
        for k in names
    }
    summary["run_wall_s"] = summarize([r["wall_s"] for r in runs])
    for k, v in summary.items():
        print(f"{k:40s} median {v['median']:12.5g}  q1 {v['q1']:12.5g}  "
              f"q3 {v['q3']:12.5g}  spread {v['spread']:.4f}")
    if args.out:
        data = {}
        if os.path.exists(args.out):
            with open(args.out, encoding="utf-8") as f:
                data = json.load(f)
        key = f"{args.workload}/{args.label}" + ("/trace" if args.trace else "")
        data[key] = {
            "seconds": args.seconds,
            "all_correct": all(r["correct"] for r in runs),
            "summary": summary,
            "runs": runs,
        }
        with open(args.out, "w", encoding="utf-8") as f:
            json.dump(data, f, indent=1, sort_keys=True)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
