"""Run one benchmark workload and print its metrics.

Usage, from the repository root::

    python3 perfbench/run.py --workload checkpointed_tiling --seed 1 --seconds 5 --trace 0

Load model: one client (this process) runs one batch job at a time, in a
closed loop, on a ``local[4]`` Spark session. Inputs are generated from
``--seed`` and cached under ``.perfbench_cache/`` before the session
starts; generation is never timed.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
traced passes instead and prints the per-layer metrics, and writes the
spans to ``.perfbench_out/``. The last stdout line is one JSON object
with the keys ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")
OUT = os.path.join(ROOT, ".perfbench_out")
CORES = 4
JVM_HEAP = "1g"
MIN_PASSES = 3  # timed passes per untraced run, even past --seconds
MIN_TRACED = 2  # traced passes per traced run, each after an untraced one


def declared_units() -> tuple[dict[str, str], dict[str, str]]:
    """Metric name → unit for the end-to-end and the per-layer metrics,
    as ``BENCHMARK.json`` declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return tuple({m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer"))


def _prepare_env() -> None:
    """Environment the Spark JVM and its Python workers inherit.

    Workers import gipspark from the checkout root whatever the cwd, and
    every scratch file Spark writes stays under the cache directory.
    """
    tmp = os.path.join(CACHE, "tmp")
    local = os.path.join(CACHE, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # every JVM spark-submit starts, the launcher included: temp files and
    # no hsperfdata file outside the cache
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["GIPSPARK_DRIVER_MEM"] = JVM_HEAP
    os.environ.pop("SPARK_GRAFT_CPUS", None)


def start_spark():
    from gipspark import get_spark

    return get_spark(
        "perfbench",
        parallelism=CORES,
        extra={
            "spark.ui.showConsoleProgress": "false",
            # a fixed, pre-touched heap: how much of it the collector
            # happens to touch is not memory the program asked for, and
            # would swing peak_pss_mb by hundreds of MB between runs
            "spark.driver.extraJavaOptions": f"-Xms{JVM_HEAP} -XX:+AlwaysPreTouch",
            "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse"),
        },
    )


# ---------------------------------------------------------------------------
# process tree: peak memory and shutdown
# ---------------------------------------------------------------------------


def _children_of() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(pid: int) -> list[int]:
    kids, out, todo = _children_of(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def pss_kb(pid: int) -> int:
    """Proportional set size of ``pid``: pages shared by forked workers
    count once across the tree, not once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class MemorySampler:
    """Samples the summed PSS of a process tree on a background thread
    and keeps the highest sum seen."""

    def __init__(self, pid: int, interval_s: float = 0.2):
        self.pid = pid
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, sum(pss_kb(p) for p in process_tree(self.pid)))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every process it started."""
    proc = spark.sparkContext._gateway.proc
    tree = process_tree(proc.pid)
    spark.stop()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 15
    alive = [p for p in tree if os.path.exists(f"/proc/{p}")]
    while alive and time.time() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------


class Tally:
    """Passes attempted and failed; a failure is counted, not fatal."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, wl, timed: list[float]) -> None:
        """One pass plus its untimed check; its wall goes into ``timed``."""
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            out = wl.run_pass()
            wall = time.perf_counter() - t0
            wl.after_pass(out)
            ok = wl.check(out)
        except Exception:  # a failed pass is counted and the run goes on
            traceback.print_exc()
            self.failed += 1
            return
        if not ok:
            print("pass output differs from the reference", file=sys.stderr)
            self.failed += 1
        timed.append(wall)


def setup(wl, tracer):
    """Session start plus the warm-up pass over a slice of the input:
    Python worker spawn, codegen and polygon cover building land here."""
    t0 = time.perf_counter()
    with tracer.span("setup"):
        spark = start_spark()
        wl.bind(spark)
        wl.warmup()
    return spark, time.perf_counter() - t0


def measure(wl, seconds: float, tally: Tally) -> list[float]:
    walls: list[float] = []
    while (sum(walls) < seconds or len(walls) < MIN_PASSES) and tally.failed <= 2 * MIN_PASSES:
        tally.run(wl, walls)
    return walls


def end_to_end(wl, seconds: float, tracer, tally: Tally) -> dict[str, float]:
    spark, setup_s = setup(wl, tracer)
    try:
        with MemorySampler(spark.sparkContext._gateway.proc.pid) as mem:
            walls = measure(wl, seconds, tally)
    finally:
        stop_spark(spark)
        wl.cleanup()
    pass_s = statistics.median(walls) if walls else float("nan")
    print(f"timed passes: {len(walls)}  walls_s: {[round(w, 3) for w in walls]}")
    return {
        "pass_s": pass_s,
        "docs_per_s": wl.input_rows / pass_s,
        "setup_s": setup_s,
        "peak_pss_mb": mem.peak_mb,
    }


def _med(rows: list[dict], key: str) -> float:
    return statistics.median(r[key] for r in rows)


def per_layer(wl, seconds: float, tracer, tally: Tally, names) -> dict[str, float]:
    """Traced run: untraced and traced passes in turn (the untraced ones
    are the overhead base), then the kernel microbench. Layers the
    workload does not exercise read 0, and so does every metric of the
    traced passes when none of them checked out."""
    from perfbench import kernels

    m = {k: 0.0 for k in names}
    spark, _ = setup(wl, tracer)
    try:
        untraced: list[float] = []
        reps: list[dict] = []
        while (
            sum(r["traced_s"] for r in reps) < seconds or len(reps) < MIN_TRACED
        ) and tally.failed <= 2 * MIN_TRACED:
            with tracer.span("pass.untraced"):
                tally.run(wl, untraced)
            tally.attempted += 1
            try:
                with tracer.span("pass"):
                    rep = wl.layers(tracer)
            except Exception:  # counted like a failed untraced pass
                traceback.print_exc()
                tally.failed += 1
                continue
            if not rep["ok"]:
                print("traced pass output differs from the reference", file=sys.stderr)
                tally.failed += 1
                continue
            rep["traced_s"] = sum(rep["walls"].values())
            reps.append(rep)
        with tracer.span("kernels"):
            m.update(kernels.run(tracer, wl.kernel_batch(), wl.polys))
    finally:
        stop_spark(spark)
        wl.cleanup()
    if reps and untraced:
        _layer_metrics(m, reps, untraced, wl.input_rows)
    return m


def _layer_metrics(m: dict[str, float], reps: list[dict], untraced: list[float], n: int) -> None:
    """Fill ``m`` from the traced passes whose output checked out."""
    from perfbench.workloads import REGISTRY_QUERIES

    walls = [r["walls"] for r in reps]
    m["sources.scan_s"] = _med(walls, "scan")
    if "agg" in walls[0]:  # the cumulative prefixes of checkpointed_tiling
        enrich, pip, agg = _med(walls, "enrich"), _med(walls, "pip"), _med(walls, "agg")
        m["pipeline.enrich_s"] = enrich - m["sources.scan_s"]
        m["pip.self_s"] = pip - enrich
        m["tiles.agg_s"] = agg - pip
    if "stages" in reps[0]:  # checkpointed_tiling
        for s in ("s1_enrich", "s2_pip", "s3_cluster"):
            m[f"checkpoint.{s}_s"] = statistics.median(r["stages"][s] for r in reps)
        m["checkpoint.lineage_rows"] = reps[-1]["lineage_rows"]
        m["skew.partition_rows_max_over_median"] = reps[-1]["skew"]
        m["resume_s"] = _med(reps, "resume_s")
        m["ckpt_bytes_per_doc"] = reps[-1]["ckpt_bytes_per_doc"]
    for q in REGISTRY_QUERIES:
        if q in walls[0]:
            m[f"queries.{q}_s"] = _med(walls, q)
    py = reps[-1]["python"]
    m["pipeline.python_time_s"] = statistics.median(r["python"]["python_time_s"] for r in reps)
    m["pipeline.bytes_to_python_per_doc"] = py["sent"] / n
    m["pipeline.bytes_from_python_per_doc"] = py["received"] / n
    f = reps[-1]["funnel"]
    for k in ("cover_rows", "probe_rows", "candidates", "kept"):
        m[f"pip.{k}"] = f[k]
    m["pip.keep_rate"] = f["kept"] / f["candidates"]
    m["trace.overhead_s"] = _med(reps, "traced_s") - statistics.median(untraced)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "gipspark")):
        print(f"gipspark/ not found under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    _prepare_env()

    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload](CACHE, args.seed)
    wl.prepare()

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    tracer = Tracer(run_id, enabled=bool(args.trace))
    tally = Tally()
    e2e_units, layer_units = declared_units()
    units = layer_units if args.trace else e2e_units
    with tracer.span("workload", workload=args.workload, seed=args.seed):
        if args.trace:
            values = per_layer(wl, args.seconds, tracer, tally, layer_units)
        else:
            values = end_to_end(wl, args.seconds, tracer, tally)
    if values.keys() != units.keys():
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(values.keys() ^ units.keys())}")

    for k, v in values.items():
        print(f"{k:40s} {v:16.6f} {units[k]}")
    print(f"{'error_rate':40s} {tally.failed / tally.attempted:16.6f} fraction "
          f"({tally.failed} of {tally.attempted} passes)")
    result = {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"{run_id}.json"), "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, **result}, f, indent=1)
    if args.trace:
        tracer.dump(os.path.join(OUT, f"{run_id}.trace.json"), {"metrics": values})
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
