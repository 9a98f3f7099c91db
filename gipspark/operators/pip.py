"""Point-in-polygon join — cell-prefilter then exact ray-cast refine.

The north_star's signature operator (BASELINE.json:6: "point-in-polygon
joins (cell-prefilter then exact ray-casting refine against
Shapely-prepared polygon partitions)"). Spark-first shape:

1. **Prefilter** (JVM, no Python): polygons' S2 level-``level`` cell
   covers are computed driver-side (polygon sets are small dims) and
   exploded into a ``(cell, poly_id)`` table that is *broadcast* — the
   big point side equi-joins on its already-computed cell id, so the
   10^12-row scan never shuffles for this join and Catalyst pushes the
   cell computation/pruning into the scan stage.
2. **Refine** (JVM codegen, no Python): candidate (point, poly) pairs
   run the exact even-odd ray cast (the gipspark.geo.pip rule) as an
   ``aggregate`` fold over a broadcast edges array per polygon (same
   role as the reference's Shapely *prepared* polygons — preprocessed
   once, reused per row).

Scale notes: the broadcast cover is |polys|·|cover| rows (thousands) —
tiny; refine cost is proportional to candidates only, and candidates
are bounded by cover cell area / point density, not |points|×|polys|.
Skew (a megacity cell matching many polygons) is handled upstream by
the salted hybrid join (gipspark.operators.skew) when needed.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from gipspark.functions.cells import s2_cell
from gipspark.geo import pip as pipgeo

COVER_SCHEMA = StructType(
    [StructField("__cell", LongType(), False), StructField("poly_id", LongType(), False)]
)

_COVER_CACHE: dict = {}


COVER_LEVELS = (6, 9, 12)  # quantized cover levels — bounds the probe
# amplification of the single prefilter join to |COVER_LEVELS| rows/point

CELL_LEVEL = 12  # S2 level of a caller's ``cell_col`` (the enrich encode)


def choose_cover_level(rings: list[np.ndarray]) -> int:
    """Adaptive cover level: cell width ≈ polygon diameter / 8, snapped
    to COVER_LEVELS, so every polygon costs O(tens–hundreds) of cover
    cells whether it spans 5 km or 5000 km (a fixed fine level would
    need millions of cells for continental polygons)."""
    min_lon, min_lat, max_lon, max_lat = pipgeo.polygon_bbox(rings)
    diam = max(max_lon - min_lon, max_lat - min_lat, 1e-3)
    raw = np.log2(90.0 * 8.0 / diam)
    return min(COVER_LEVELS, key=lambda lv: abs(lv - raw))


def _poly_key(p: dict) -> tuple:
    r0 = p["rings"][0]
    return (p["poly_id"], len(p["rings"]), len(r0), float(r0[0][0]), float(r0[0][1]))


def polygon_covers(polys: list[dict], level: int) -> pd.DataFrame:
    """Driver-side (cell, poly_id) cover table at ``level`` (cached —
    bench/pipeline reruns must not pay the sampling twice)."""
    rows_cell, rows_pid = [], []
    for p in polys:
        key = (_poly_key(p), level)
        cells = _COVER_CACHE.get(key)
        if cells is None:
            rings = [np.asarray(r, dtype=np.float64) for r in p["rings"]]
            cells = pipgeo.polygon_cover(rings, level=level)
            _COVER_CACHE[key] = cells
        rows_cell.append(cells)
        rows_pid.append(np.full(len(cells), p["poly_id"], dtype=np.int64))
    return pd.DataFrame(
        {"__cell": np.concatenate(rows_cell), "poly_id": np.concatenate(rows_pid)}
    )


def cover_table(
    spark: SparkSession, polys: list[dict], level: int | None = None
) -> tuple[list[int], DataFrame]:
    """(sorted cover levels used, (__cell, poly_id) DataFrame): each
    polygon covered at ``level``, or at its choose_cover_level when
    ``level`` is None. Cell ids self-describe their level, so the
    per-level covers share one table without collisions."""
    groups: dict[int, list[dict]] = {}
    for p in polys:
        lvl = level if level is not None else choose_cover_level(
            [np.asarray(r, dtype=np.float64) for r in p["rings"]]
        )
        groups.setdefault(lvl, []).append(p)
    levels = sorted(groups)
    cover_pd = pd.concat([polygon_covers(groups[lvl], lvl) for lvl in levels], ignore_index=True)
    return levels, spark.createDataFrame(cover_pd, COVER_SCHEMA)


def pip_join(
    points: DataFrame,
    polys: list[dict],
    lat_col: str = "lat",
    lon_col: str = "lon",
    level: int | None = None,
    cell_col: str | None = None,
) -> DataFrame:
    """points ⋈ polygons (inner) → points' columns + ``poly_id``.

    ``polys``: list of {poly_id, rings} dicts (rings = [[lon,lat]...]).
    ``level``: force one cover level; default picks one per polygon
    (choose_cover_level) and probes every distinct level through one
    shuffle-free broadcast join (≤3 levels in practice).
    ``cell_col``: an existing S2 ``CELL_LEVEL`` cell column to derive
    the probe cells from (encode-once pipelines) instead of encoding
    (lat, lon) again.

    The refine runs the even-odd ray cast as a whole-stage-codegen
    ``aggregate`` over a broadcast edges array, so the join adds no
    Python stage to the plan. A left join is the caller's: join this
    result back to the points on a key.

    Polygons crossing the ±180° meridian are split into in-strip
    pieces first (geo/antimeridian.py; a no-op when nothing wraps) —
    the planar ray cast would otherwise test the polygon's complement.
    """
    from gipspark.geo.antimeridian import normalize_antimeridian

    spark = points.sparkSession
    if len({p["poly_id"] for p in polys}) != len(polys):
        raise ValueError("pip_join: poly_id values must be unique")
    polys = normalize_antimeridian(polys)
    levels, cover = cover_table(spark, polys, level)

    # ONE encode at the finest needed level; each point then explodes
    # into its parent cell at every active cover level via the S2
    # parent bit trick ((cell & ~(lsb-1)) | lsb) — pure JVM bitwise
    # arithmetic — and ONE broadcast equi-join probes the combined
    # multi-level cover. Single branch, |levels|× probe amplification,
    # no shuffle.
    finest = levels[-1]
    pts = points
    if cell_col is not None and CELL_LEVEL >= finest:
        base, base_lvl = cell_col, CELL_LEVEL
    else:
        base, base_lvl = "__cellbase", finest
        pts = pts.withColumn(base, s2_cell(F.col(lat_col), F.col(lon_col), finest))

    def parent_expr(lvl: int):
        if lvl == base_lvl:
            return F.col(base)
        lsb = 1 << (2 * (30 - lvl))
        mask = (~(lsb - 1)) & 0xFFFFFFFFFFFFFFFF
        if mask >= 1 << 63:
            mask -= 1 << 64
        return F.col(base).bitwiseAND(F.lit(mask)).bitwiseOR(F.lit(lsb))

    probe = pts.withColumn("__pcell", F.explode(F.array(*[parent_expr(lvl) for lvl in levels])))
    cand = probe.join(
        F.broadcast(cover.withColumnRenamed("__cell", "__pcell")), on="__pcell", how="inner"
    ).select(*points.columns, "poly_id")

    # edges ride as a broadcast (poly_id → array<struct>) dim; the
    # crossing rule below is the VERBATIM pipgeo.points_in_polygon rule
    # (and the DuckDB oracle's): straddle test first, so the xcross
    # division only matters when y2 != y1. Spark's non-ANSI Divide
    # returns NULL on a zero divisor (not IEEE inf/nan), and
    # three-valued AND short-circuits `false AND NULL` to false — the
    # straddle gate is false exactly when y1 == y2, so the NULL never
    # escapes. NB: under spark.sql.ansi.enabled=true the division would
    # raise instead; gate horizontal edges explicitly before enabling
    # ANSI mode.
    edges_rows = [
        (
            int(p["poly_id"]),
            [
                (float(x1), float(y1), float(x2), float(y2))
                for x1, y1, x2, y2 in pipgeo.rings_to_edges(
                    [np.asarray(r, dtype=np.float64) for r in p["rings"]]
                )
            ],
        )
        for p in polys
    ]
    edges_df = spark.createDataFrame(
        edges_rows,
        "poly_id long, __edges array<struct<x1:double,y1:double,x2:double,y2:double>>",
    )
    lon_c, lat_c = F.col(lon_col), F.col(lat_col)
    crossings = F.aggregate(
        F.col("__edges"),
        F.lit(0),
        lambda acc, e: acc
        + F.when(
            ((e.y1 > lat_c) != (e.y2 > lat_c))
            & (lon_c < (e.x2 - e.x1) * (lat_c - e.y1) / (e.y2 - e.y1) + e.x1),
            1,
        ).otherwise(0),
    )
    return (
        cand.join(F.broadcast(edges_df), "poly_id")
        .filter(crossings % 2 == 1)
        .select(*points.columns, "poly_id")
    )
