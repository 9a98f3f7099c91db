"""Polygon–polygon overlay join — cover-cell prefilter + exact refine.

The last spatial operator from SURVEY.md §9.5 (nothing in BASELINE.json
requires it; parcels×zones-style overlays do). Spark-first shape, same
skeleton as the PIP join:

1. **Prefilter** (JVM): each side's polygons get an S2 cover at an
   adaptive quantized level (operators.pip.cover_table — guaranteed
   supersets of every cell touching the polygon region). Because the
   two sides may cover at different COVER_LEVELS, each cover row is
   exploded into its ancestor chain at every quantized level (pure bit
   arithmetic, same parent math as pip_join's probe side); the
   candidate set is the distinct (a_id, b_id) pairs sharing any
   normalized cell. Shuffle is bounded by cover-cell occupancy, never
   |A|×|B|.
2. **Refine** (JVM codegen, no Python): polygons intersect under the
   house rule iff (a) some edge of A properly crosses some edge of B
   (strict orientation-sign test — nested array `exists` over the two
   broadcast-joined edge arrays), or (b) A's representative vertex lies
   in B (even-odd ray cast, the same `aggregate` fold as pip refine),
   or (c) symmetrically B's in A. Covers containment both ways plus
   partial overlap; boundary-touching degeneracies (collinear edges,
   vertex-on-edge) follow the strict rule and are excluded — the DuckDB
   oracle implements the textually-identical predicate, so both sides
   agree bit-for-bit. Divide-by-zero in the ray cast yields NULL under
   Spark's non-ANSI Divide and the straddle gate short-circuits
   `false AND NULL` to false (see operators/pip.py refine note).

Scale notes: edge arrays ride in the tables (array<struct> columns), so
the refine is one codegen stage over candidates; |Ea|·|Eb| orientation
tests per candidate pair with no shuffle beyond the candidate join.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gipspark.geo import pip as pipgeo
from gipspark.operators.pip import COVER_LEVELS, choose_cover_level, cover_table

_EDGES_T = "array<struct<x1:double,y1:double,x2:double,y2:double>>"


def _side_dfs(
    spark: SparkSession, polys: list[dict], prefix: str
) -> tuple[DataFrame, DataFrame]:
    """(cover_df, shape_df) for one side. cover: (cell, {prefix}_id) at
    each polygon's adaptive level. shape: ({prefix}_id, edges, vx, vy)."""
    _, cover = cover_table(spark, polys)
    cover = cover.select(F.col("__cell").alias("cell"), F.col("poly_id").alias(f"{prefix}_id"))
    shape_rows = [
        (
            int(p["poly_id"]),
            [
                (float(x1), float(y1), float(x2), float(y2))
                for x1, y1, x2, y2 in pipgeo.rings_to_edges(
                    [np.asarray(r, dtype=np.float64) for r in p["rings"]]
                )
            ],
            float(p["rings"][0][0][0]),
            float(p["rings"][0][0][1]),
        )
        for p in polys
    ]
    shape = spark.createDataFrame(
        shape_rows,
        f"{prefix}_id long, {prefix}_edges {_EDGES_T}, {prefix}_vx double, {prefix}_vy double",
    )
    return cover, shape


def _ancestors(cell):
    """Explode helper: a cover cell plus its ancestors at every
    quantized level ≤ its own (same parent bit math as pip_join)."""
    out = [cell]
    for lvl in COVER_LEVELS[:-1]:
        lsb = 1 << (2 * (30 - lvl))
        mask = (~(lsb - 1)) & 0xFFFFFFFFFFFFFFFF
        if mask >= 1 << 63:
            mask -= 1 << 64
        out.append(cell.bitwiseAND(F.lit(mask)).bitwiseOR(F.lit(lsb)))
    return F.array_distinct(F.array(*out))


def _orient(px, py, qx, qy, rx, ry):
    """Signed area of (p, q, r): (q − p) × (r − p)."""
    return (qx - px) * (ry - py) - (qy - py) * (rx - px)


def _proper_cross(ea, eb):
    oa1 = _orient(eb.x1, eb.y1, eb.x2, eb.y2, ea.x1, ea.y1)
    oa2 = _orient(eb.x1, eb.y1, eb.x2, eb.y2, ea.x2, ea.y2)
    ob1 = _orient(ea.x1, ea.y1, ea.x2, ea.y2, eb.x1, eb.y1)
    ob2 = _orient(ea.x1, ea.y1, ea.x2, ea.y2, eb.x2, eb.y2)
    return (oa1 * oa2 < 0) & (ob1 * ob2 < 0)


def _point_in_edges(vx, vy, edges):
    crossings = F.aggregate(
        edges,
        F.lit(0),
        lambda acc, e: acc
        + F.when(
            ((e.y1 > vy) != (e.y2 > vy))
            & (vx < (e.x2 - e.x1) * (vy - e.y1) / (e.y2 - e.y1) + e.x1),
            1,
        ).otherwise(0),
    )
    return crossings % 2 == 1


_EDGES_FROM_RINGS = (
    "flatten(transform({col}, r -> zip_with("
    "slice(r, 1, size(r) - 1), slice(r, 2, size(r) - 1), "
    "(p, q) -> struct(p[0] as x1, p[1] as y1, q[0] as x2, q[1] as y2))))"
)


def _poly_shape_cols(df: DataFrame, prefix: str) -> DataFrame:
    """(id, edges, vx, vy) from a (poly_id, rings) DataFrame — edge
    construction is pure JVM array HOFs (rings must be closed: first
    point repeated last, the fixture/POLY_SCHEMA convention)."""
    return df.select(
        F.col("poly_id").alias(f"{prefix}_id"),
        F.expr(_EDGES_FROM_RINGS.format(col="rings")).alias(f"{prefix}_edges"),
        F.expr("rings[0][0][0]").alias(f"{prefix}_vx"),
        F.expr("rings[0][0][1]").alias(f"{prefix}_vy"),
    )


def _poly_cover_df(df: DataFrame, prefix: str) -> DataFrame:
    """Distributed cover computation: one Arrow batch of (poly_id,
    rings) rows per task → (cell, id) rows at each polygon's adaptive
    quantized level. This is the scale path for polygon sides too big
    to enumerate driver-side (the list-of-dicts overlay_join builds the
    same table on the driver)."""
    import pandas as pd

    def gen(batches):
        for b in batches:
            ids, cells = [], []
            for pid, rings in zip(b["poly_id"], b["rings"]):
                # Arrow hands nested lists back as object arrays of
                # arrays — stack point-wise for a clean (n, 2) float64
                rr = [
                    np.stack([np.asarray(p, dtype=np.float64) for p in r])
                    for r in rings
                ]
                cs = pipgeo.polygon_cover(rr, level=choose_cover_level(rr))
                ids.append(np.full(len(cs), pid, dtype=np.int64))
                cells.append(cs)
            if ids:
                yield pd.DataFrame(
                    {"cell": np.concatenate(cells), "pid": np.concatenate(ids)}
                )
            else:
                yield pd.DataFrame({"cell": pd.Series(dtype=np.int64), "pid": pd.Series(dtype=np.int64)})

    return df.select("poly_id", "rings").mapInPandas(gen, "cell long, pid long").select(
        "cell", F.col("pid").alias(f"{prefix}_id")
    )


def overlay_join_df(a_polys_df: DataFrame, b_polys_df: DataFrame) -> DataFrame:
    """DataFrame-native overlay join: both polygon sides are tables of
    (poly_id, rings) — the parcels×zones shape where neither side fits
    on the driver. Covers are computed distributed (mapInPandas, narrow),
    candidates shuffle on the normalized cover cell (bounded by cover
    occupancy), and the refine joins shapes back on poly_id — no
    broadcast anywhere, so both sides scale horizontally. Predicates
    are identical to :func:`overlay_join` (same oracle applies)."""
    a_norm = _poly_cover_df(a_polys_df, "a").select(
        F.explode(_ancestors(F.col("cell"))).alias("cell"), "a_id"
    )
    b_norm = _poly_cover_df(b_polys_df, "b").select(
        F.explode(_ancestors(F.col("cell"))).alias("cell"), "b_id"
    )
    cand = a_norm.join(b_norm, "cell").select("a_id", "b_id").distinct()
    scored = (
        cand.join(_poly_shape_cols(a_polys_df, "a"), "a_id")
        .join(_poly_shape_cols(b_polys_df, "b"), "b_id")
        .select(
            "a_id",
            "b_id",
            F.exists(
                F.col("a_edges"),
                lambda ea: F.exists(F.col("b_edges"), lambda eb: _proper_cross(ea, eb)),
            ).alias("edge_cross"),
            _point_in_edges(F.col("a_vx"), F.col("a_vy"), F.col("b_edges")).alias("a_in_b"),
            _point_in_edges(F.col("b_vx"), F.col("b_vy"), F.col("a_edges")).alias("b_in_a"),
        )
    )
    return scored.filter(F.col("edge_cross") | F.col("a_in_b") | F.col("b_in_a"))


def overlay_join(
    spark: SparkSession, a_polys: list[dict], b_polys: list[dict]
) -> DataFrame:
    """Intersecting polygon pairs: (a_id, b_id, edge_cross, a_in_b,
    b_in_a), one row per pair where any flag holds."""
    a_cover, a_shape = _side_dfs(spark, a_polys, "a")
    b_cover, b_shape = _side_dfs(spark, b_polys, "b")

    # normalize both covers to the quantized level lattice and match on
    # any shared normalized cell (coarser side's own level always
    # appears in the finer side's ancestor chain)
    a_norm = a_cover.select(F.explode(_ancestors(F.col("cell"))).alias("cell"), "a_id")
    b_norm = b_cover.select(F.explode(_ancestors(F.col("cell"))).alias("cell"), "b_id")
    cand = a_norm.join(b_norm, "cell").select("a_id", "b_id").distinct()

    scored = (
        cand.join(F.broadcast(a_shape), "a_id")
        .join(F.broadcast(b_shape), "b_id")
        .select(
            "a_id",
            "b_id",
            F.exists(
                F.col("a_edges"),
                lambda ea: F.exists(F.col("b_edges"), lambda eb: _proper_cross(ea, eb)),
            ).alias("edge_cross"),
            _point_in_edges(F.col("a_vx"), F.col("a_vy"), F.col("b_edges")).alias("a_in_b"),
            _point_in_edges(F.col("b_vx"), F.col("b_vy"), F.col("a_edges")).alias("b_in_a"),
        )
    )
    return scored.filter(F.col("edge_cross") | F.col("a_in_b") | F.col("b_in_a"))
