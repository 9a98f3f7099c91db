"""The flagship pipeline: scan → extract/geotag → encode → PIP join →
tile assign → clustered write, checkpointed per stage.

This is the BASELINE.json:2 benchmark subject ("H3-encode + PIP-join +
tile-assign … docs/sec end-to-end") and the resume demonstration
(BASELINE.json:6). Each stage is a declarative DataFrame; Python is
crossed exactly once per row batch (the enrich ``mapInPandas`` pass) —
everything else, the PIP refine included, is whole-stage codegen.

Stage list (names are manifest keys — stable across runs):
  s1_enrich   html → text', (lat,lon), s2/h3 cells, tile  [one fused
              mapInPandas pass + codegen tile; html dropped at the seam]
  s2_pip      ⋈ polygons (broadcast multi-level prefilter + refine)
  s3_cluster  cluster by cell (repartitionByRange) + final table
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

from gipspark.functions.cells import tile_of
from gipspark.functions.text import extract_text_series, geotag_frame
from gipspark.geo import h3x, s2
from gipspark.operators.pip import CELL_LEVEL, pip_join
from gipspark.operators.skew import cluster_by_cell
from gipspark.sources.checkpoint import CheckpointedRun


def enrich_docs(docs: DataFrame) -> DataFrame:
    """scan → extract/geotag → encode (bench hot path).

    ONE ``mapInPandas`` pass does extraction, geotagging and both cell
    encodes (S2 ``CELL_LEVEL`` ``cell``, H3 res-7 ``h3cell``; both null
    where the doc has no geotag) — a single Arrow transfer of html and
    a single Python worker pool. Chained scalar pandas UDFs would plan
    as stacked ArrowEvalPython nodes, each with its own worker pool per
    core — measured 3× *slower* at local[32] than local[8] from pure
    worker thrash (BENCH notes). The fused plan is also what a
    1000-executor run wants: narrow, no shuffle, one python process per
    task slot.

    The html payload is dropped from the output: the bytes must cross
    INTO Python once (they are the input), but shipping them back out
    through Arrow — and through every downstream exchange — doubles the
    pipeline's byte volume for a column nothing downstream reads.
    """
    out_schema = StructType(
        [f for f in docs.schema.fields if f.name != "html"]
        + [
            StructField("text_extracted", StringType()),
            StructField("lat", DoubleType()),
            StructField("lon", DoubleType()),
            StructField("cell", LongType()),
            StructField("h3cell", LongType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            # decode once: geotag and extract both need str, and the
            # ("utf-8", "replace") decode is ~15% of the kernel — the
            # frozen-spec bytes→str rule lives HERE now, shared
            html_s = b["html"].map(
                lambda v: v.decode("utf-8", "replace")
                if isinstance(v, (bytes, bytearray))
                else v
            )
            geo = geotag_frame(html_s)
            m = geo["lat"].notna().to_numpy()
            # ids stay int64 end to end: H3 ids do not fit a float64
            cell = np.zeros(len(b), np.int64)
            h3c = np.zeros(len(b), np.int64)
            if m.any():
                la = geo["lat"].to_numpy(np.float64)[m]
                lo = geo["lon"].to_numpy(np.float64)[m]
                cell[m] = s2.latlng_to_cell(la, lo, CELL_LEVEL)
                h3c[m] = h3x.latlng_to_cell(la, lo, 7)
            yield b.drop(columns=["html"]).assign(
                text_extracted=extract_text_series(html_s),
                lat=geo["lat"].to_numpy(),
                lon=geo["lon"].to_numpy(),
                cell=pd.arrays.IntegerArray(cell, ~m),
                h3cell=pd.arrays.IntegerArray(h3c, ~m),
            )

    enriched = docs.mapInPandas(run, out_schema)
    geocoded = F.col("lat").isNotNull()
    return enriched.withColumn(
        "tile_id", F.when(geocoded, tile_of(F.col("lat"), F.col("lon"))).otherwise(F.lit(None))
    )


def run_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    polys: list[dict],
    ckpt_root: str,
    run_id: str = "run0",
) -> tuple[DataFrame, CheckpointedRun]:
    """Checkpointed end-to-end run; returns (final assignments, run)."""
    run = CheckpointedRun(spark, ckpt_root, run_id)

    enriched = run.stage("s1_enrich", lambda: enrich_docs(docs), key_col="cell")

    def s2() -> DataFrame:
        pts = enriched.filter(F.col("lat").isNotNull())
        return pip_join(pts, polys, cell_col="cell").select(
            "url", "warc_ts", "lang", "lat", "lon", "cell", "h3cell", "tile_id", "poly_id"
        )

    matched = run.stage("s2_pip", s2, key_col="cell")

    final = run.stage("s3_cluster", lambda: cluster_by_cell(matched, "cell"), key_col="cell")
    return final, run
