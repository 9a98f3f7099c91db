"""The benchmark workloads.

Each workload is driven only through gipspark's public entry points:

* ``prepare()`` makes the seeded inputs and the output references,
  cached on disk; it runs before the Spark session starts and is never
  timed.
* ``warmup()`` is the untimed first pass, over a slice of the input or all of it.
* ``run_pass()`` is one timed pass; it returns the collected output.
* ``check(out)`` compares that output with the reference, untimed.
* ``layers(tracer)`` is one traced pass, split into the layers it
  crosses; it returns per-layer walls and plan counters.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from pyspark.sql import functions as F

from perfbench import checks, inputs
from perfbench.tracing import pip_funnel, plan_nodes, python_boundary

DOCS_N = 50_000  # fixture documents per seed
FLAGSHIP_FIXTURE_POLYS = 50
REGISTRY_SF = 0.03  # 0.3 of the sf0.1 test tables: 4,500 customers
REGISTRY_QUERIES = [
    "pip_join_customers",
    "knn_join_nations",
    "skew_salted_join",
    "fca_accessibility_customers",
    "fuzzy_title_join",
    "inventory_matrix",
]
REGISTRY_TABLES = ["customer", "nation", "supplier", "orders", "lineitem", "documents"]


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def flagship_polygons() -> list[dict]:
    """Fixture zones plus the oracle polygons re-keyed, as in ``bench.py``."""
    from gipspark.queries import ORACLE_POLYGONS
    from gipspark.sources.fixtures import polygons

    return polygons(FLAGSHIP_FIXTURE_POLYS) + [
        {**p, "poly_id": 100 + p["poly_id"]} for p in ORACLE_POLYGONS
    ]


class Workload:
    name = ""

    def __init__(self, cache: str, seed: int):
        self.cache = cache
        self.seed = seed
        self.spark = None
        self.input_rows = 0
        self.polys: list[dict] = []

    def warmup(self) -> None:
        """One unchecked pass over a slice of the input or all of it: pays
        for Python worker spawn, codegen and cover building."""
        raise NotImplementedError

    def kernel_batch(self):
        """The fixed 16,384-doc batch for the kernel microbench."""
        from perfbench.kernels import BATCH_DOCS

        return inputs.docs_table(inputs.docs_frame(self.seed, BATCH_DOCS))

    def after_pass(self, out) -> dict[str, float]:
        """Untimed follow-up of a pass; returns figures for the trace."""
        return {}

    def cleanup(self) -> None:
        """Remove what the passes left on disk."""


class CheckpointedTiling(Workload):
    """The flagship pipeline, checkpointed: run_pipeline (s1_enrich →
    s2_pip → s3_cluster) on the seed's fixture docs into a fresh
    checkpoint root, then a resumed run_pipeline on the same root.

    The traced run also splits the noop-sink flagship chain (enrich_docs
    → geocoded → pip_join → tile × poly count) on the same input into its
    cumulative prefixes."""

    name = "checkpointed_tiling"
    STAGES = ["s1_enrich", "s2_pip", "s3_cluster"]
    RUN_ID = "bench"

    def prepare(self) -> None:
        self.path = inputs.docs_input(self.cache, self.seed, DOCS_N)
        self.polys = flagship_polygons()
        self.input_rows = DOCS_N
        self.reference = checks.docs_reference(self.path, self.polys)
        self.ckpt_base = os.path.join(self.cache, f"ckpt-{os.getpid()}")
        self._n = 0

    def bind(self, spark) -> None:
        self.spark = spark

    def _pipeline(self, root: str, path: str | None = None):
        from gipspark.plans.pipeline import run_pipeline

        docs = self.spark.read.parquet(path or self.path)
        return run_pipeline(self.spark, docs, self.polys, root, self.RUN_ID)

    def warmup(self) -> None:
        root = os.path.join(self.ckpt_base, "warmup")
        self._pipeline(root, inputs.first_part(self.path))
        shutil.rmtree(root, ignore_errors=True)

    def run_pass(self):
        self._n += 1
        root = os.path.join(self.ckpt_base, f"pass{self._n}")
        shutil.rmtree(root, ignore_errors=True)
        final, run = self._pipeline(root)
        return {"root": root, "executed": list(run.executed)}

    def after_pass(self, out) -> dict[str, float]:
        """Resume on the same root (timed on its own), then what the
        checks read (the s1 text invariant and the s3 tile × poly counts)
        and the byte count; the checkpoint root is removed afterwards."""
        root = out["root"]
        t0 = time.perf_counter()
        final, run = self._pipeline(root)
        out["resume_s"] = time.perf_counter() - t0
        out["resume_skipped"] = list(run.skipped)
        out["resume_rows"] = final.count()
        out["manifests"] = {s: run.manifest(s) for s in self.STAGES}
        s1 = self.spark.read.parquet(os.path.join(root, self.RUN_ID, "s1_enrich", "data"))
        out["text_mismatch"] = s1.filter(~F.col("text_extracted").eqNullSafe(F.col("text"))).count()
        out["s1_rows"] = s1.count()
        s3 = self.spark.read.parquet(os.path.join(root, self.RUN_ID, "s3_cluster", "data"))
        out["tile_poly_counts"] = checks.rows_to_counts(
            s3.groupBy("tile_id", "poly_id").agg(F.count("*").alias("n")).collect()
        )
        out["bytes"] = _tree_bytes(root)
        out["lineage"] = _lineage_rows(os.path.join(root, self.RUN_ID), self.STAGES)
        shutil.rmtree(root, ignore_errors=True)
        return {"resume_s": out["resume_s"], "ckpt_bytes_per_doc": out["bytes"] / self.input_rows}

    def cleanup(self) -> None:
        shutil.rmtree(self.ckpt_base, ignore_errors=True)

    def check(self, out) -> bool:
        m = out["manifests"]
        return (
            out["executed"] == self.STAGES
            and out["resume_skipped"] == self.STAGES
            and out["text_mismatch"] == 0
            and out["s1_rows"] == self.input_rows
            and out["resume_rows"] == m["s3_cluster"]["rows"]
            and out["tile_poly_counts"] == self.reference
        )

    def prefix_layers(self, tracer) -> dict:
        """The noop-sink flagship chain as cumulative prefixes, each a
        separate action: scan; +enrich; +pip; +agg. Plan counters come
        from the final collect, whose rows are checked against the
        NumPy reference."""
        from gipspark.operators.pip import pip_join
        from gipspark.plans.pipeline import enrich_docs

        docs = self.spark.read.parquet(self.path)
        enriched = enrich_docs(docs).filter(F.col("lat").isNotNull())
        matched = pip_join(enriched, self.polys, cell_col="cell")
        out = matched.groupBy("tile_id", "poly_id").agg(F.count("*").alias("n"))
        walls = {}
        for layer, df in (("scan", docs), ("enrich", enriched), ("pip", matched)):
            with tracer.span(f"prefix.{layer}"):
                t0 = time.perf_counter()
                _noop(df)
                walls[layer] = time.perf_counter() - t0
        with tracer.span("prefix.agg"):
            t0 = time.perf_counter()
            rows = out.collect()
            walls["agg"] = time.perf_counter() - t0
        nodes = plan_nodes(out)
        return {
            "walls": walls,
            "ok": checks.rows_to_counts(rows) == self.reference,
            "funnel": pip_funnel(nodes),
            "python": python_boundary(nodes),
        }

    def layers(self, tracer) -> dict:
        rep = self.prefix_layers(tracer)
        with tracer.span("run_pipeline"):
            t0 = time.perf_counter()
            out = self.run_pass()
            rep["walls"]["pipeline"] = time.perf_counter() - t0
        with tracer.span("resume"):
            rep.update(self.after_pass(out))
        s3 = out["lineage"]["s3_cluster"]
        rep["ok"] = rep["ok"] and self.check(out)
        rep["stages"] = {s: out["manifests"][s]["wall_s"] for s in self.STAGES}
        rep["lineage_rows"] = sum(len(parts) for parts in out["lineage"].values())
        rep["skew"] = max(s3) / statistics.median(s3)
        return rep


def _tree_bytes(root: str) -> int:
    """Bytes of every file under ``root`` except the stage manifests,
    whose wall-time fields change length from run to run."""
    total = 0
    for d, _, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files if f != "_MANIFEST.json")
    return total


def _lineage_rows(run_dir: str, stages: list[str]) -> dict[str, list[int]]:
    """Stage → per-partition row counts from the lineage parquet."""
    import pyarrow.parquet as pq

    return {
        s: pq.read_table(os.path.join(run_dir, s, "lineage"), columns=["rows"]).column("rows").to_pylist()
        for s in stages
    }


class RegistryMix(Workload):
    """Six registry queries in a fixed order over seeded tables made the
    way the sf0.1 test tables are, at scale factor ``REGISTRY_SF``."""

    name = "registry_mix"

    def prepare(self) -> None:
        import pyarrow.parquet as pq

        from gipspark.queries import ORACLE_POLYGONS

        self.dir = inputs.registry_input(self.cache, self.seed, REGISTRY_SF)
        self.polys = ORACLE_POLYGONS
        self.input_rows = sum(
            pq.ParquetFile(os.path.join(self.dir, f"{t}.parquet")).metadata.num_rows
            for t in REGISTRY_TABLES
        )
        oracle = checks.oracle_tables(self.dir, self.dir + ".oracle", REGISTRY_QUERIES)
        self.reference = {n: checks.normalize(t) for n, t in oracle.items()}

    def bind(self, spark) -> None:
        from gipspark.queries import REGISTRY

        self.spark = spark
        self.fns = {n: REGISTRY[n][0] for n in REGISTRY_QUERIES}

    def _query(self, name: str):
        return self.fns[name](self.spark, self.dir)

    def warmup(self) -> None:
        """A whole pass. On a table set a tenth the size,
        knn_join_nations forks eight Python workers instead of four for
        some seeds; they stay alive and swing peak_pss_mb by about
        270 MB from seed to seed."""
        self.run_pass()

    def run_pass(self):
        return {n: self._query(n).toArrow() for n in REGISTRY_QUERIES}

    def check(self, out) -> bool:
        return all(checks.normalize(out[n]) == self.reference[n] for n in REGISTRY_QUERIES)

    def layers(self, tracer) -> dict:
        walls, out, nodes = {}, {}, {}
        with tracer.span("prefix.scan"):
            t0 = time.perf_counter()
            for t in REGISTRY_TABLES:
                _noop(self.spark.read.parquet(os.path.join(self.dir, f"{t}.parquet")))
            walls["scan"] = time.perf_counter() - t0
        for n in REGISTRY_QUERIES:
            with tracer.span(f"query.{n}"):
                t0 = time.perf_counter()
                df = self._query(n)  # some queries run jobs while planning
                out[n] = df.toArrow()
                walls[n] = time.perf_counter() - t0
            nodes[n] = plan_nodes(df)
        py = [python_boundary(v) for v in nodes.values()]
        return {
            "walls": walls,
            "ok": self.check(out),
            "funnel": pip_funnel(nodes["pip_join_customers"]),
            "python": {k: sum(p[k] for p in py) for k in py[0]},
        }


WORKLOADS = {w.name: w for w in (CheckpointedTiling, RegistryMix)}
