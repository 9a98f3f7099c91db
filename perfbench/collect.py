"""Run workloads over several seeds and summarise the spread of each metric.

Usage, from the repository root::

    python3 perfbench/collect.py --seeds 1-10 --sets 2 --out /tmp/summary.json
    python3 perfbench/collect.py --workloads registry_mix --seeds 3,4 --trace-seed 1

Each (set, workload, seed) is one ``perfbench/run.py`` subprocess; the
sets take turns seed by seed, so they share the host's good and bad
minutes. For every set and end-to-end metric the summary gives the
values, the median, and the spread: the distance between the first and
third quartile (``statistics.quantiles(values, n=4)``) as a share of the
median, next to the metric's bound from ``BENCHMARK.json``. For every
later set it gives how much worse its median is than the first set's,
as a share of it. With ``--trace-seed`` it also makes one traced run per
workload and keeps its spans.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(text: str) -> list[int]:
    seeds: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    out, err = proc.communicate()
    wall = time.perf_counter() - t0
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n{err[-3000:]}")
    res = json.loads(lines[-1])
    res["run_wall_s"] = wall
    res["run_id"] = f"{workload}-s{seed}-t{trace}-{proc.pid}"
    return res


def spread(values: list[float]) -> dict:
    med = statistics.median(values)
    if len(values) < 2:
        return {"median": med, "spread": None, "values": values}
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None, "values": values}


def summarize(runs: list[dict], bounds: dict[str, float]) -> dict:
    entry: dict = {
        "run_wall_s": spread([r["run_wall_s"] for r in runs]),
        "attempted": sum(r["attempted"] for r in runs),
        "failed": sum(r["failed"] for r in runs),
        "metrics": {},
    }
    for name, bound in bounds.items():
        s = spread([r["metrics"][name]["value"] for r in runs])
        s["unit"] = runs[0]["metrics"][name]["unit"]
        s["bound"] = bound
        entry["metrics"][name] = s
    return entry


def worse_by(first: float, second: float, better: str) -> float:
    """How much worse ``second`` is than ``first``, as a share of ``first``."""
    return (second - first) / first if better == "lower" else (first - second) / first


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=1, help="sets of runs over the same seeds, made in turn")
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace-seed", type=int, default=None)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    workloads = args.workloads.split(",")
    seeds = parse_seeds(args.seeds)
    runs: dict[tuple[int, str], list[dict]] = {(k, w): [] for k in range(args.sets) for w in workloads}
    for seed in seeds:  # every set sees each seed before the next seed starts
        for k in range(args.sets):
            for w in workloads:
                res = run_once(w, seed, args.seconds, 0)
                runs[(k, w)].append(res)
                shown = {m: round(v["value"], 4) for m, v in res["metrics"].items()}
                print(f"set {k + 1} {w} seed {seed}: {res['run_wall_s']:.1f}s correct={res['correct']} "
                      f"{shown}", flush=True)

    summary: dict = {"seconds": args.seconds, "seeds": seeds, "sets": [], "agreement": {}}
    for k in range(args.sets):
        entries = {w: summarize(runs[(k, w)], bounds) for w in workloads}
        summary["sets"].append(entries)
        for w, entry in entries.items():
            for name, s in entry["metrics"].items():
                print(f"set {k + 1} {w:20s} {name:14s} median {s['median']:12.4f} spread {s['spread']} "
                      f"(bound {s['bound']})", flush=True)
            print(f"set {k + 1} {w:20s} run wall median {entry['run_wall_s']['median']:.1f}s, "
                  f"{entry['failed']} of {entry['attempted']} passes failed", flush=True)
    for k in range(1, args.sets):
        for w in workloads:
            for name in bounds:
                first = summary["sets"][0][w]["metrics"][name]["median"]
                later = summary["sets"][k][w]["metrics"][name]["median"]
                d = worse_by(first, later, better[name])
                summary["agreement"].setdefault(w, {}).setdefault(name, []).append(d)
                print(f"set {k + 1} vs set 1 {w:20s} {name:14s} worse by {d:+.4f} (bound {bounds[name]})",
                      flush=True)
    if args.trace_seed is not None:
        summary["traced"] = {}
        for w in workloads:
            res = run_once(w, args.trace_seed, args.seconds, 1)
            summary["traced"][w] = res
            src = os.path.join(ROOT, ".perfbench_out", f"{res['run_id']}.trace.json")
            dst = os.path.join(os.path.dirname(os.path.abspath(args.out)), f"trace-{w}.json")
            shutil.copyfile(src, dst)
            print(f"{w}: traced run {res['run_wall_s']:.1f}s, spans in {dst}", flush=True)
    with open(args.out, "w") as f:
        json.dump(summary, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
