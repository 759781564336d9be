"""Distributed level-synchronous quadtree must equal the driver-grid port
bit-for-bit (same tiles, same order, same map ids)."""

import pytest
from pyspark.sql import functions as F

from osm2garmin_spark.expressions import derived_lat, derived_lon
from osm2garmin_spark.split.density import collect_density, density_cells
from osm2garmin_spark.split.distributed import split_area_distributed
from osm2garmin_spark.split.quadtree import split_area


def _points(spark, n, salt=0):
    return spark.range(0, n).select(
        F.col("id").alias("event_id"),
        derived_lat(F.col("id") + salt).alias("lat"),
        derived_lon(F.col("id") + salt).alias("lon"))


@pytest.mark.parametrize("n,max_nodes,salt,res", [
    (5000, 300, 0, 13),
    (5000, 300, 123456, 13),
    (20000, 900, 7, 11),
    (800, 50, 99, 12),
])
def test_distributed_equals_driver(spark, n, max_nodes, salt, res):
    pts = _points(spark, n, salt).cache()
    grid, exact = collect_density(pts, resolution=res)
    want = split_area(grid, exact, res, max_nodes)

    cells = density_cells(pts, resolution=res).persist()
    got = split_area_distributed(cells, exact, res, max_nodes)
    cells.unpersist()

    assert [(t.map_id, t.min_lat, t.min_long, t.max_lat, t.max_long) for t in got] \
        == [(t.map_id, t.min_lat, t.min_long, t.max_lat, t.max_long) for t in want]


def test_distributed_custom_bounds_equals_driver(spark):
    """Non-PLANET bounds: density_cells emits coords relative to the
    caller's rounded bounds, so the distributed split must use the same
    origin (round 1 hardcoded PLANET → 0 tiles; ADVICE item 2)."""
    from osm2garmin_spark.geo.area import Area
    from osm2garmin_spark.geo.units import to_map_unit

    bounds = Area(int(to_map_unit(-60.0)), int(to_map_unit(-100.0)),
                  int(to_map_unit(70.0)), int(to_map_unit(120.0)))
    pts = _points(spark, 5000).cache()
    grid, exact = collect_density(pts, resolution=13, bounds=bounds)
    want = split_area(grid, exact, 13, 300)
    assert len(want) > 1

    cells = density_cells(pts, resolution=13, bounds=bounds).persist()
    got = split_area_distributed(cells, exact, 13, 300, bounds=bounds)
    cells.unpersist()
    assert [(t.map_id, t.min_lat, t.min_long, t.max_lat, t.max_long) for t in got] \
        == [(t.map_id, t.min_lat, t.min_long, t.max_lat, t.max_long) for t in want]


def test_distributed_single_tile(spark):
    pts = _points(spark, 50)
    grid, exact = collect_density(pts)
    cells = density_cells(pts).persist()
    got = split_area_distributed(cells, exact, 13, 10**9)
    want = split_area(grid, exact, 13, 10**9)
    assert len(got) == len(want) == 1
    assert (got[0].min_lat, got[0].max_lat) == (want[0].min_lat, want[0].max_lat)


def _random_grid(res, n_pts, seed):
    """Clustered + uniform cells over the planet grid, touching the cell
    rows the ±85° clamp cuts off."""
    import numpy as np
    from osm2garmin_spark.geo.area import Area, PLANET
    from osm2garmin_spark.split.quadtree import DensityGrid

    rng = np.random.default_rng(seed)
    g = DensityGrid(PLANET, trim=True, resolution=res)
    xs = rng.integers(0, g.width, n_pts)
    ys = rng.integers(0, g.height, n_pts)
    xs[: n_pts // 2] = xs[: n_pts // 2] % max(g.width // 7, 1)
    np.add.at(g.grid, (xs, ys), 1)
    g.total = int(g.grid.sum())
    exact = Area(g.y_to_lat(int(ys.min())), g.x_to_lon(int(xs.min())),
                 g.y_to_lat(int(ys.max()) + 1), g.x_to_lon(int(xs.max()) + 1))
    return g, exact


def _cells_df(spark, grid):
    import numpy as np
    import pandas as pd

    xs, ys = np.nonzero(grid.grid)
    return spark.createDataFrame(pd.DataFrame(
        {"cell_x": xs, "cell_y": ys, "cnt": grid.grid[xs, ys]})).persist()


def _tiles(tiles):
    return [(t.map_id, t.min_lat, t.min_long, t.max_lat, t.max_long)
            for t in tiles]


def test_distributed_clamped_row_equals_driver(spark):
    """A node whose occupied extent reaches the grid's bottom cell row,
    below -85°, rounds to bounds that cut that row off; its sums must be
    read again over the bounds, as the driver split does."""
    grid, exact = _random_grid(9, 4000, 7)
    cells = _cells_df(spark, grid)
    got = split_area_distributed(cells, exact, 9, 50)
    cells.unpersist()
    assert _tiles(got) == _tiles(split_area(grid, exact, 9, 50))


def test_distributed_splits_in_two_threads(spark):
    """Two different distributed splits at once, one per thread, each
    give their single-thread tiles (the loop keeps no module state)."""
    from concurrent.futures import ThreadPoolExecutor

    cases = [(*_random_grid(9, 4000, 7), 9, 50),
             (*_random_grid(11, 20000, 8), 11, 200)]
    cells = [_cells_df(spark, g) for g, _, _, _ in cases]
    alone = [_tiles(split_area_distributed(c, exact, res, m))
             for c, (_, exact, res, m) in zip(cells, cases)]
    with ThreadPoolExecutor(2) as pool:
        futures = [pool.submit(split_area_distributed, c, exact, res, m)
                   for c, (_, exact, res, m) in zip(cells, cases)]
        together = [_tiles(f.result(timeout=300)) for f in futures]
    for c in cells:
        c.unpersist()
    assert alone[0] != alone[1]
    assert together == alone
