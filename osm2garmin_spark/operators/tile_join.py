"""Point → tile assignment join (reference splitter pass 2).

The reference fans every node out to all tiles whose *extended* (overlap-
inflated) bbox contains it, accelerated by a 512×512 coarse grid that
pre-computes candidate tile lists per cell plus a "no exact test needed"
flag (SplitProcessor.java:412-518 makeWriterGrid/get; exact test
OSMWriter.nodeBelongsToThisArea:39-41; drive loop writeNode:213-259).

Spark-first shape: the coarse grid IS an equi-join key.

- tiles (≤ thousands) explode into the coarse cells their extended bbox
  covers, with a per-(tile,cell) ``full`` flag (cell entirely inside bbox ⇒
  residual predicate constant-true — the reference's testNeeded=false).
- points compute the same cell id; broadcast hash equi-join on the cell,
  then the residual closed-bbox predicate only where needed.

At 100 TB this is a broadcast hash join with no shuffle of the fact table;
skewed metro cells don't matter (no shuffle key). The multi-assignment
(overlapping tiles) falls out naturally: one output row per (point, tile).
Points matching no tile are dropped (anti-join semantics of
SplitProcessor.writeNode:218-220).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..geo.area import Area
from ..expressions import map_unit_or_null

#: coarse candidate-grid resolution (shift): cells of 2^19 map units
#: (~11.25°/1024... i.e. 2^19/46603 ≈ 11.25 degrees / 32nd of the planet).
#: The reference sizes its grid 512×512 over the tile union
#: (SplitProcessor.java:413-414); a fixed shift keeps the cell id a pure
#: column expression on the point side.
DEFAULT_CELL_SHIFT = 19

_ORIGIN_LON = -0x800000
_ORIGIN_LAT = -0x400000


def tiles_df(spark: SparkSession, tiles: Sequence[Area], overlap: int = 2000) -> DataFrame:
    """Small DataFrame of tiles with raw + extended (±overlap map units)
    bounds; overlap default 2000 ≙ SplitterParams.java:34-35."""
    rows = []
    for t in tiles:
        e = t.extend(overlap)
        rows.append((t.map_id, t.name or "", t.min_lat, t.min_long, t.max_lat,
                     t.max_long, e.min_lat, e.min_long, e.max_lat, e.max_long))
    return spark.createDataFrame(
        rows,
        "tile_id int, name string, min_lat long, min_lon long, max_lat long, "
        "max_lon long, ext_min_lat long, ext_min_lon long, ext_max_lat long, "
        "ext_max_lon long",
    )


def _tile_candidates_df(spark: SparkSession, tiles: Sequence[Area],
                        overlap: int, cell_shift: int) -> DataFrame:
    """Tile→covering-cells explosion done JVM-side: the driver ships only
    one small Arrow batch of tile bounds; sequence()+explode generates the
    (tile, cell) candidate rows inside the cluster. (A py4j row list here
    cost ~3 s of driver serial time per job at a few thousand cells.)"""
    import pandas as pd

    ext = [(t.map_id, t.extend(overlap)) for t in tiles]
    base = spark.createDataFrame(pd.DataFrame({
        "tile_id": [tid for tid, _ in ext],
        "t_min_lat": [e.min_lat for _, e in ext],
        "t_min_lon": [e.min_long for _, e in ext],
        "t_max_lat": [e.max_lat for _, e in ext],
        "t_max_lon": [e.max_long for _, e in ext],
    }))
    # explicit cast: the non-Arrow createDataFrame fallback (sessions without
    # the Arrow conf, e.g. a bare spark-submit) infers int64 from pandas and
    # would silently change tile_id's engine-wide int type (lineage schema)
    base = base.withColumn("tile_id", F.col("tile_id").cast("int"))
    size = 1 << cell_shift
    cx0 = F.shiftright(F.col("t_min_lon") - _ORIGIN_LON, cell_shift)
    cx1 = F.shiftright(F.col("t_max_lon") - _ORIGIN_LON, cell_shift)
    cy0 = F.shiftright(F.col("t_min_lat") - _ORIGIN_LAT, cell_shift)
    cy1 = F.shiftright(F.col("t_max_lat") - _ORIGIN_LAT, cell_shift)
    exploded = (base
                .withColumn("cell_x", F.explode(F.sequence(cx0, cx1)))
                .withColumn("cell_y", F.explode(F.sequence(cy0, cy1))))
    cell_min_lon = F.shiftleft(F.col("cell_x"), cell_shift) + F.lit(_ORIGIN_LON)
    cell_min_lat = F.shiftleft(F.col("cell_y"), cell_shift) + F.lit(_ORIGIN_LAT)
    full = ((cell_min_lat >= F.col("t_min_lat"))
            & (cell_min_lat + (size - 1) <= F.col("t_max_lat"))
            & (cell_min_lon >= F.col("t_min_lon"))
            & (cell_min_lon + (size - 1) <= F.col("t_max_lon")))
    return exploded.withColumn("full", full)


def assign_points_to_tiles(points: DataFrame, tiles: Sequence[Area],
                           overlap: int = 2000,
                           lat_col: str = "lat", lon_col: str = "lon",
                           cell_shift: int = DEFAULT_CELL_SHIFT) -> DataFrame:
    """points × tiles multi-assignment join.

    Input: any DataFrame with degree lat/lon columns. Output: input columns
    + lat_mu/lon_mu + tile_id, one row per (point, containing tile). A
    point with a NULL or NaN coordinate is in no tile.
    """
    spark = points.sparkSession
    cand = _tile_candidates_df(spark, tiles, overlap, cell_shift)

    lat_mu = map_unit_or_null(F.col(lat_col))
    lon_mu = map_unit_or_null(F.col(lon_col))
    pts = points.withColumn("lat_mu", lat_mu).withColumn("lon_mu", lon_mu)
    pts = pts.withColumn("cell_x", F.shiftright(F.col("lon_mu") - F.lit(_ORIGIN_LON), cell_shift))
    pts = pts.withColumn("cell_y", F.shiftright(F.col("lat_mu") - F.lit(_ORIGIN_LAT), cell_shift))

    joined = pts.join(F.broadcast(cand), ["cell_x", "cell_y"], "inner")
    residual = F.col("full") | (
        (F.col("lat_mu") >= F.col("t_min_lat")) & (F.col("lat_mu") <= F.col("t_max_lat"))
        & (F.col("lon_mu") >= F.col("t_min_lon")) & (F.col("lon_mu") <= F.col("t_max_lon"))
    )
    drop = ["cell_x", "cell_y", "full", "t_min_lat", "t_min_lon", "t_max_lat", "t_max_lon"]
    return joined.filter(residual).drop(*drop)


def tile_counts(assigned: DataFrame) -> DataFrame:
    """Per-tile element counts (endMap stats analogue,
    SplitProcessor.java:169-211) — feeds the lineage/metrics table."""
    return assigned.groupBy("tile_id").agg(F.count(F.lit(1)).alias("n_rows"))
