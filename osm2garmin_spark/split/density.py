"""Distributed density histogram (reference splitter pass 1, analyze).

The reference streams every node through DensityMapCollector.processNode
(DensityMapCollector.java:50-56) updating a driver-local int[][] — inherently
single-node. Here the histogram is one Spark ``groupBy(cell_x, cell_y)``
with map-side partial aggregation, so the full scan is distributed and only
the occupied-cell table crosses to the driver.

``collect_density`` runs ONE job with ONE Arrow transfer of three int64
columns (cell_x, cell_y, cnt). The exact data bounds (MapDetails.java:
32-49) ride the same scan: a ``pyspark.sql.Observation`` on the filtered
lat_mu/lon_mu projection reduces their min/max on the executors and hands
the driver one row. The driver keeps the cell table as it arrives —
``quadtree.split_area`` splits it directly and no dense grid is built.

addNode semantics preserved exactly (DensityMap.java:63-78): closed-bounds
containment filter, then x/y cell with the x==width / y==height clamp.
"""

from __future__ import annotations

from typing import Optional, Tuple

import numpy as np
from pyspark.sql import DataFrame, Observation, functions as F

from ..geo.area import Area, PLANET, round_area
from ..expressions import map_unit
from .quadtree import DensityGrid


def _inside_mu(df: DataFrame, lat_col: str, lon_col: str, b: Area) -> DataFrame:
    """(lat_mu, lon_mu) of the rows inside the rounded bounds ``b``
    (out-of-bounds rows never reach the histogram — DensityMap.addNode:64-65)."""
    mu = df.select(map_unit(F.col(lat_col)).alias("lat_mu"),
                   map_unit(F.col(lon_col)).alias("lon_mu"))
    return mu.filter(
        (F.col("lat_mu") >= F.lit(b.min_lat)) & (F.col("lat_mu") <= F.lit(b.max_lat))
        & (F.col("lon_mu") >= F.lit(b.min_long)) & (F.col("lon_mu") <= F.lit(b.max_long)))


def _histogram(inside: DataFrame, b: Area, resolution: int) -> DataFrame:
    shift = 24 - resolution
    x = F.least(F.shiftright(F.col("lon_mu") - F.lit(b.min_long), shift),
                F.lit((b.width >> shift) - 1))
    y = F.least(F.shiftright(F.col("lat_mu") - F.lit(b.min_lat), shift),
                F.lit((b.height >> shift) - 1))
    return (inside.groupBy(x.alias("cell_x"), y.alias("cell_y"))
            .agg(F.count(F.lit(1)).alias("cnt")))


def density_cells(df: DataFrame, lat_col: str = "lat", lon_col: str = "lon",
                  resolution: int = 13, bounds: Area = PLANET) -> DataFrame:
    """Per-cell node counts, one distributed scan.
    Returns (cell_x, cell_y, cnt); out-of-bounds rows are dropped here."""
    b = round_area(bounds, resolution)
    return _histogram(_inside_mu(df, lat_col, lon_col, b), b, resolution)


def exact_bounds(df: DataFrame, lat_col: str = "lat", lon_col: str = "lon"
                 ) -> Area | None:
    """Exact data bbox in map units (MapDetails semantics) — 1-row agg."""
    lat_mu = map_unit(F.col(lat_col))
    lon_mu = map_unit(F.col(lon_col))
    row = df.agg(F.min(lat_mu).alias("a"), F.min(lon_mu).alias("b"),
                 F.max(lat_mu).alias("c"), F.max(lon_mu).alias("d")).collect()[0]
    if row["a"] is None:
        return None
    return Area(int(row["a"]), int(row["b"]), int(row["c"]), int(row["d"]))


def collect_density(df: DataFrame, lat_col: str = "lat", lon_col: str = "lon",
                    resolution: int = 13, bounds: Area = PLANET,
                    ) -> Tuple[DensityGrid, Optional[Area]]:
    """Run the density scan and return (DensityGrid, exact data Area).

    The grid holds the occupied-cell table. The exact Area is None when no
    row lies inside the bounds. Caveat vs MapDetails: rows outside the
    (polar-clamped) bounds don't reach the histogram and so don't widen
    the exact area — for |lat| ≤ 85 inputs the results are identical;
    callers needing literal MapDetails semantics over polar rows can use
    ``exact_bounds`` separately."""
    b = round_area(bounds, resolution)
    observed = Observation()
    inside = _inside_mu(df, lat_col, lon_col, b).observe(
        observed,
        F.min("lat_mu").alias("min_lat"), F.min("lon_mu").alias("min_lon"),
        F.max("lat_mu").alias("max_lat"), F.max("lon_mu").alias("max_lon"))
    pdf = _histogram(inside, b, resolution).toPandas()
    grid = DensityGrid(bounds, trim=True, resolution=resolution,
                       cells=(pdf["cell_x"].to_numpy(np.int64),
                              pdf["cell_y"].to_numpy(np.int64),
                              pdf["cnt"].to_numpy(np.int64)))
    if len(pdf) == 0:
        return grid, None
    m = observed.get
    return grid, Area(int(m["min_lat"]), int(m["min_lon"]),
                      int(m["max_lat"]), int(m["max_lon"]))
