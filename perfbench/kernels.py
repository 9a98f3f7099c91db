"""Single-process kernel microbench on one fixed 16,384-document batch.

Times the public kernels the enrich pass calls (decode, extract,
geotag, S2 and H3 encode), the Arrow ↔ pandas hop around them, the ray
cast and the polygon cover build. Each kernel runs once untimed, then
``REPEATS`` timed calls (the cover build: two); the median is reported.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd
import pyarrow as pa

BATCH_DOCS = 16_384
RAYCAST_POINTS = 2_048
REPEATS = 5


def _median_s(fn, repeats: int = REPEATS) -> float:
    fn()
    walls = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def _decode(html: pd.Series) -> pd.Series:
    """The enrich pass's bytes → str step (plans.pipeline, UTF-8 'replace')."""
    return html.map(lambda v: v.decode("utf-8", "replace") if isinstance(v, (bytes, bytearray)) else v)


def run(tracer, batch: pa.Table, polys: list[dict]) -> dict[str, float]:
    """Per-unit kernel costs on ``batch`` (fixture docs) and ``polys``."""
    from gipspark.functions.text import extract_text_series, geotag_frame
    from gipspark.geo import h3x, s2
    from gipspark.geo.pip import points_in_polygon, polygon_cover, rings_to_edges
    from gipspark.operators.pip import choose_cover_level

    n = batch.num_rows
    out: dict[str, float] = {}
    with tracer.span("kernel.arrow_to_pandas"):
        out["pipeline.arrow_to_pandas_us_per_doc"] = _median_s(batch.to_pandas) / n * 1e6
    pdf = batch.to_pandas()
    html = pdf["html"]
    with tracer.span("kernel.decode"):
        out["text.decode_us_per_doc"] = _median_s(lambda: _decode(html)) / n * 1e6
    text_in = _decode(html)
    with tracer.span("kernel.extract"):
        out["text.extract_us_per_doc"] = (
            _median_s(lambda: extract_text_series(text_in)) / n * 1e6
        )
    with tracer.span("kernel.geotag"):
        out["text.geotag_us_per_doc"] = _median_s(lambda: geotag_frame(text_in)) / n * 1e6
    geo = geotag_frame(text_in)
    m = geo["lat"].notna().to_numpy()
    la, lo = geo["lat"].to_numpy(np.float64)[m], geo["lon"].to_numpy(np.float64)[m]
    with tracer.span("kernel.s2"):
        out["geo.s2_us_per_point"] = _median_s(lambda: s2.latlng_to_cell(la, lo, 12)) / len(la) * 1e6
    with tracer.span("kernel.h3"):
        out["geo.h3_us_per_point"] = _median_s(lambda: h3x.latlng_to_cell(la, lo, 7)) / len(la) * 1e6

    # the enrich pass's output batch, converted back to Arrow
    cell = pd.array(np.zeros(n, dtype=np.int64), dtype="Int64")
    h3c = pd.array(np.zeros(n, dtype=np.int64), dtype="Int64")
    cell[m] = s2.latlng_to_cell(la, lo, 12)
    h3c[m] = h3x.latlng_to_cell(la, lo, 7)
    cell[~m] = pd.NA
    h3c[~m] = pd.NA
    enriched = pdf.drop(columns=["html"]).assign(
        text_extracted=extract_text_series(text_in),
        lat=geo["lat"].to_numpy(),
        lon=geo["lon"].to_numpy(),
        cell=cell,
        h3cell=h3c,
    )
    with tracer.span("kernel.pandas_to_arrow"):
        out["pipeline.pandas_to_arrow_us_per_doc"] = (
            _median_s(lambda: pa.Table.from_pandas(enriched, preserve_index=False)) / n * 1e6
        )

    # ray cast: the batch's first RAYCAST_POINTS geocoded points against
    # every polygon
    px, py = lo[:RAYCAST_POINTS], la[:RAYCAST_POINTS]
    edges = [rings_to_edges([np.asarray(r, dtype=np.float64) for r in p["rings"]]) for p in polys]
    n_edges = sum(len(e) for e in edges)

    def raycast():
        for e in edges:
            points_in_polygon(px, py, e)

    with tracer.span("kernel.raycast"):
        out["geo.raycast_ns_per_edge"] = _median_s(raycast) / (len(px) * n_edges) * 1e9

    rings = [[np.asarray(r, dtype=np.float64) for r in p["rings"]] for p in polys]
    levels = [choose_cover_level(r) for r in rings]

    def covers():
        for r, lv in zip(rings, levels):
            polygon_cover(r, level=lv)

    with tracer.span("kernel.cover"):
        out["geo.cover_s"] = _median_s(covers, repeats=2)
    return out
