"""Output references, computed without Spark and cached per input.

* tile × polygon counts: a bounding-box filter plus
  ``gipspark.geo.pip.points_in_polygon`` against *every* polygon (no S2
  cover), plus the 5° tile arithmetic, all in NumPy.
* registry queries: each query's DuckDB oracle (``oracle_sql()``) over
  the same parquet files; both sides are compared after an Arrow
  round-trip with DECIMAL cast to DOUBLE.
"""

from __future__ import annotations

import hashlib
import json
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

_GEO = re.compile(rb'name="geo\.position" content="(-?[0-9.]+);(-?[0-9.]+)"')


def html_latlon(html: list[bytes]) -> tuple[np.ndarray, np.ndarray]:
    """(lat, lon) of each document's geo.position tag, NaN when absent."""
    lat = np.full(len(html), np.nan)
    lon = np.full(len(html), np.nan)
    for i, h in enumerate(html):
        m = _GEO.search(h)
        if m:
            lat[i], lon[i] = float(m.group(1)), float(m.group(2))
    return lat, lon


def tile_ids(lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
    """The 5° h##v## graticule id, computed in NumPy."""
    ix = np.minimum(np.floor((lon + 180.0) / 5.0).astype(np.int64), 71)
    iy = np.minimum(np.floor((90.0 - lat) / 5.0).astype(np.int64), 35)
    return np.array([f"h{a:02d}v{b:02d}" for a, b in zip(ix, iy)], dtype=object)


def tile_poly_counts(lat, lon, tiles, polys: list[dict]) -> dict[tuple[str, int], int]:
    """Brute-force (tile_id, poly_id) → point count over every polygon."""
    from gipspark.geo.pip import points_in_polygon_batched, rings_to_edges

    out: dict[tuple[str, int], int] = {}
    for p in polys:
        rings = [np.asarray(r, dtype=np.float64) for r in p["rings"]]
        edges = rings_to_edges(rings)
        x0, y0 = edges[:, [0, 2]].min(), edges[:, [1, 3]].min()
        x1, y1 = edges[:, [0, 2]].max(), edges[:, [1, 3]].max()
        idx = np.flatnonzero((lon >= x0) & (lon <= x1) & (lat >= y0) & (lat <= y1))
        if not len(idx):
            continue
        inside = idx[points_in_polygon_batched(lon[idx], lat[idx], edges)]
        names, counts = np.unique(tiles[inside], return_counts=True)
        for t, c in zip(names, counts):
            out[(str(t), int(p["poly_id"]))] = int(c)
    return out


def docs_reference(input_dir: str, polys: list[dict]) -> dict[tuple[str, int], int]:
    """(tile_id, poly_id) → geocoded doc count for the docs under
    ``input_dir``, cached next to them per polygon set."""
    key = hashlib.sha1(json.dumps(polys, sort_keys=True).encode()).hexdigest()[:16]
    path = f"{input_dir}.ref-{key}.json"
    if os.path.exists(path):
        with open(path) as f:
            return {(t, int(p)): n for t, p, n in json.load(f)}
    html = pq.read_table(input_dir, columns=["html"]).column("html").to_pylist()
    lat, lon = html_latlon(html)
    ok = ~np.isnan(lat)
    lat, lon = lat[ok], lon[ok]
    ref = tile_poly_counts(lat, lon, tile_ids(lat, lon), polys)
    with open(path + ".tmp", "w") as f:
        json.dump(sorted([t, p, n] for (t, p), n in ref.items()), f)
    os.rename(path + ".tmp", path)
    return ref


def rows_to_counts(rows) -> dict[tuple[str, int], int]:
    return {(r["tile_id"], int(r["poly_id"])): int(r["n"]) for r in rows}


# ---------------------------------------------------------------------------
# registry oracles
# ---------------------------------------------------------------------------


def normalize(table: pa.Table) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name; DECIMAL → DOUBLE; rows sorted."""
    names = sorted(table.column_names)
    cols = []
    for n in names:
        c = table.column(n)
        if pa.types.is_decimal(c.type):
            c = pc.cast(c, pa.float64())
        cols.append(c.to_pylist())
    rows = list(zip(*cols)) if cols else []
    rows.sort(key=lambda r: tuple((v is None, v if v is not None else 0) for v in r))
    return names, rows


def oracle_tables(tables_dir: str, oracle_dir: str, names: list[str]) -> dict[str, pa.Table]:
    """DuckDB oracle result per query, computed once per tables dir."""
    import duckdb

    from gipspark.queries import oracle_sql

    os.makedirs(oracle_dir, exist_ok=True)
    out, todo = {}, []
    for n in names:
        p = os.path.join(oracle_dir, f"{n}.parquet")
        if os.path.exists(p):
            out[n] = pq.read_table(p)
        else:
            todo.append(n)
    if todo:
        sql = oracle_sql()
        con = duckdb.connect()
        try:
            for f in sorted(os.listdir(tables_dir)):
                t = f.removesuffix(".parquet")
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(tables_dir, f)}')"
                )
            for n in todo:
                tbl = con.sql(sql[n]).arrow()
                if isinstance(tbl, pa.RecordBatchReader):
                    tbl = tbl.read_all()
                p = os.path.join(oracle_dir, f"{n}.parquet")
                pq.write_table(tbl, p + ".tmp")
                os.rename(p + ".tmp", p)
                out[n] = tbl
        finally:
            con.close()
    return out
