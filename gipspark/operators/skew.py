"""Salted broadcast-vs-shuffle hybrid join for hotspot keys.

north_star: "Skew from dense cells (megacity hotspots) is handled with
salted broadcast-vs-shuffle hybrid joins and explicit repartitionByRange
on cell id" (BASELINE.json:6).

Strategy (SURVEY.md §2.4):

1. sample the big side's key histogram (one cheap agg over a sample);
2. **hot keys** (≥ ``hot_threshold`` of rows) join via broadcast of the
   matching slice of the build side — no shuffle ever sees the hot rows;
3. **cold keys** join shuffled, but salted: the probe side appends
   ``pmod(xxhash64(salt_source), n_salt)`` to the key and the build side
   is replicated n_salt× (explode over a literal range), so one
   oversized reducer becomes n_salt evenly-sized ones;
4. results union; AQE's skewJoin stays on as the backstop for residual
   imbalance.

Equality with a plain join is property-tested (tests/test_skew.py) —
the operator is a physical rewrite, never a semantic one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hot_keys(df: DataFrame, key: str, hot_threshold: float = 0.01, sample: float | None = None) -> list:
    """Keys covering ≥ hot_threshold of rows (optionally on a sample).

    One pass over ``df``: the per-key histogram is persisted and both
    the total and the threshold filter run over it (the r1 version paid
    a separate full count() scan of the big side first)."""
    src = df.sample(fraction=sample, seed=7) if sample else df
    counts = src.groupBy(key).agg(F.count(F.lit(1)).alias("__cnt")).persist()
    try:
        total = counts.agg(F.sum("__cnt")).first()[0] or 0
        if total == 0:
            return []
        rows = (
            counts.filter(F.col("__cnt") >= total * hot_threshold).select(key).collect()
        )
    finally:
        counts.unpersist()
    return [r[0] for r in rows]


def salted_hybrid_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salt: int = 16,
    hot_threshold: float = 0.01,
    sample: float | None = None,
) -> DataFrame:
    """big ⋈ small (inner) on ``key`` with hot-key broadcast + cold-key
    salting.

    ``small`` is the build side: small enough to broadcast per hot key
    and to replicate n_salt× for the cold path (dimension-sized — for
    the engine this is polygon covers / tile dims, thousands of rows).
    """
    hot = hot_keys(big, key, hot_threshold, sample)

    big_hot = big.filter(F.col(key).isin(hot)) if hot else None
    big_cold = big.filter(~F.col(key).isin(hot)) if hot else big

    parts: list[DataFrame] = []
    if big_hot is not None:
        small_hot = small.filter(F.col(key).isin(hot))
        parts.append(big_hot.join(F.broadcast(small_hot), on=key, how="inner"))

    salted_big = big_cold.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in big_cold.columns]), F.lit(n_salt))
    )
    salted_small = small.withColumn(
        "__salt", F.explode(F.array([F.lit(i) for i in range(n_salt)]))
    )
    parts.append(
        salted_big.join(salted_small, on=[key, "__salt"], how="inner").drop("__salt")
    )

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def cluster_by_cell(df: DataFrame, cell_col: str = "cell") -> DataFrame:
    """Output layout contract: repartitionByRange + sortWithinPartitions
    on cell id (BASELINE.json:6) into 2× default-parallelism ranges —
    range partitions give downstream scans partition pruning on cell
    ranges and keep spatially-near rows co-located; AQE rebalances
    ragged ranges."""
    parts = df.sparkSession.sparkContext.defaultParallelism * 2
    return df.repartitionByRange(parts, F.col(cell_col)).sortWithinPartitions(cell_col)
