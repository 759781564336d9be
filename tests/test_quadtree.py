"""Quadtree split: property tests + oracle parity.

The oracle is an independent brute-force re-check: node→cell binning done
per-point in a plain Python loop (addNode semantics, DensityMap.java:63-78)
and the split-invariants the reference guarantees (every returned tile
aligned; every tile's count ≤ max_nodes unless at minimum size; tiles
non-overlapping in interiors; union covers all counted nodes).
"""

import numpy as np
from hypothesis import HealthCheck, given, settings, strategies as st

from osm2garmin_spark.geo.area import Area, PLANET, round_area
from osm2garmin_spark.geo.units import to_map_unit
from osm2garmin_spark.split.quadtree import DensityGrid, split_area

RES = 13
SHIFT = 24 - RES


def _make_grid_from_points(lats_mu, lons_mu, bounds=PLANET):
    """Brute-force addNode loop (oracle path — no vectorization)."""
    grid = DensityGrid(bounds, trim=True, resolution=RES)
    b = grid.bounds
    for lat, lon in zip(lats_mu, lons_mu):
        if not b.contains(lat, lon):
            continue
        x = (lon - b.min_long) >> SHIFT
        if x == grid.width:
            x -= 1
        y = (lat - b.min_lat) >> SHIFT
        if y == grid.height:
            y -= 1
        grid.grid[x, y] += 1
    grid.total = int(grid.grid.sum())
    return grid


def _synth_points(n, seed=7):
    rng = np.random.default_rng(seed)
    # two dense clusters + uniform background
    lat = np.concatenate([
        rng.normal(40.0, 1.0, n // 3),
        rng.normal(-10.0, 0.5, n // 3),
        rng.uniform(-80, 80, n - 2 * (n // 3)),
    ])
    lon = np.concatenate([
        rng.normal(-74.0, 1.5, n // 3),
        rng.normal(120.0, 0.5, n // 3),
        rng.uniform(-179, 179, n - 2 * (n // 3)),
    ])
    return to_map_unit(lat), to_map_unit(lon)


def _count_in(area: Area, lats, lons):
    return int(np.sum((lats >= area.min_lat) & (lats <= area.max_lat)
                      & (lons >= area.min_long) & (lons <= area.max_long)))


def test_split_invariants():
    lats, lons = _synth_points(20000)
    grid = _make_grid_from_points(lats, lons)
    exact = Area(int(lats.min()), int(lons.min()), int(lats.max()), int(lons.max()))
    max_nodes = 1500
    tiles = split_area(grid, exact, RES, max_nodes)

    assert len(tiles) > 1
    align = 1 << SHIFT
    total_in_tiles_grid = 0
    for t in tiles:
        # aligned edges, even cell sizes
        assert t.min_lat % align == 0 and t.max_lat % align == 0
        assert t.min_long % align == 0 and t.max_long % align == 0
        assert t.width % (2 * align) == 0 and t.height % (2 * align) == 0
        # grid-count within tile ≤ max_nodes unless tile at min cell size
        sub = grid.subset(t)
        w_cells = t.width >> SHIFT
        h_cells = t.height >> SHIFT
        if w_cells >= 4 or h_cells >= 4:
            assert sub.node_count() <= max_nodes, str(t)
        total_in_tiles_grid += sub.node_count()

    # disjoint interiors: pairwise no overlap beyond shared edges
    for i in range(len(tiles)):
        for j in range(i + 1, len(tiles)):
            a, b = tiles[i], tiles[j]
            inter_w = min(a.max_long, b.max_long) - max(a.min_long, b.min_long)
            inter_h = min(a.max_lat, b.max_lat) - max(a.min_lat, b.min_lat)
            assert inter_w <= 0 or inter_h <= 0, (str(a), str(b))

    # union covers every counted node: each in-bounds point in ≥1 tile
    rounded = round_area(exact, RES)
    b = grid.bounds
    in_scope = ((lats >= max(rounded.min_lat, b.min_lat)) & (lats <= min(rounded.max_lat, b.max_lat))
                & (lons >= max(rounded.min_long, b.min_long)) & (lons <= min(rounded.max_long, b.max_long)))
    covered = np.zeros(len(lats), dtype=bool)
    for t in tiles:
        covered |= ((lats >= t.min_lat) & (lats <= t.max_lat)
                    & (lons >= t.min_long) & (lons <= t.max_long))
    assert covered[in_scope].all()


def test_split_deterministic_order_and_mapids():
    lats, lons = _synth_points(5000, seed=3)
    grid1 = _make_grid_from_points(lats, lons)
    grid2 = _make_grid_from_points(lats, lons)
    exact = Area(int(lats.min()), int(lons.min()), int(lats.max()), int(lons.max()))
    t1 = split_area(grid1, exact, RES, 800)
    t2 = split_area(grid2, exact, RES, 800)
    assert [(t.min_lat, t.min_long, t.max_lat, t.max_long, t.map_id) for t in t1] \
        == [(t.min_lat, t.min_long, t.max_lat, t.max_long, t.map_id) for t in t2]
    assert t1[0].map_id == 63240001
    assert [t.map_id for t in t1] == list(range(63240001, 63240001 + len(t1)))


def test_single_tile_when_under_max():
    lats, lons = _synth_points(100, seed=1)
    grid = _make_grid_from_points(lats, lons)
    exact = Area(int(lats.min()), int(lons.min()), int(lats.max()), int(lons.max()))
    tiles = split_area(grid, exact, RES, max_nodes=10**9)
    assert len(tiles) == 1


def test_empty_grid():
    grid = DensityGrid(PLANET, trim=True, resolution=RES)
    exact = Area(0, 0, 100, 100)
    assert split_area(grid, exact, RES, 100) == []


def test_single_point_fallback_tile():
    """data confined to a sub-alignment sliver still yields one tile
    (padded-bbox fallback; the reference would emit zero areas here)"""
    grid = DensityGrid(PLANET, trim=True, resolution=RES)
    lat, lon = to_map_unit(40.2000), to_map_unit(-74.4999)
    b = grid.bounds
    grid.grid[(lon - b.min_long) >> SHIFT, (lat - b.min_lat) >> SHIFT] = 1
    grid.total = 1
    exact = Area(lat, lon, lat + 1, lon + 1)
    tiles = split_area(grid, exact, RES, 100)
    assert len(tiles) == 1
    assert tiles[0].contains(lat, lon)


def test_bottom_sliver_points_get_a_tile(spark):
    """Robustness divergence #2: RoundingUtils.round moves the min-lat
    edge up, so a point mass in the bottom sub-alignment sliver of the
    exact bbox used to round OUTSIDE the split area — trim then hugged
    the surviving bands and the sliver's points landed in no tile (600
    of 3000 rows silently dropped in this corpus). split_area must pad
    the excluded side by one alignment so every in-(polar)-bounds input
    point is covered by some tile."""
    from pyspark.sql import functions as F
    from osm2garmin_spark.split.density import collect_density
    from osm2garmin_spark.split.quadtree import split_area
    from osm2garmin_spark.operators.tile_join import assign_points_to_tiles

    pts = spark.range(0, 3000).select(
        F.col("id").alias("event_id"),
        ((F.col("id") / 600).cast("int") * 10.0 - 20.0).alias("lat"),
        ((F.col("id") % 600) / 60.0 - 5.0).alias("lon"))
    grid, exact = collect_density(pts, "lat", "lon", 13)
    tiles = split_area(grid, exact, 13, 300)
    assigned = assign_points_to_tiles(pts, tiles, 2000, "lat", "lon")
    covered = assigned.select("event_id").distinct().count()
    assert covered == 3000


def _direct_split(grid, exact, res, max_nodes):
    """The reference recursion on the dense grid, with split_area's
    sliver-padded root bbox, empty-result retry and map ids."""
    from osm2garmin_spark.split.quadtree import (SplittableDensityArea,
                                                 rounded_split_bounds)

    areas = SplittableDensityArea(
        grid.subset(rounded_split_bounds(exact, res))).split(max_nodes)
    if not areas:
        padded = round_area(exact.extend(1 << (24 - res)), res)
        areas = SplittableDensityArea(grid.subset(padded)).split(max_nodes)
    return [(63240001 + i, a.min_lat, a.min_long, a.max_lat, a.max_long)
            for i, a in enumerate(areas)]


def test_level_loop_matches_direct_recursion():
    """split_area (the level loop over the grid's occupied cells) must
    reproduce the direct SplittableDensityArea recursion on the same
    dense grid exactly: random grids at resolutions 9 and 11, and a
    clustered resolution-13 grid."""
    rng = np.random.default_rng(7)
    grids = []
    for res, n_pts, max_nodes in ((9, 4000, 50), (11, 20000, 200)):
        g = DensityGrid(PLANET, trim=True, resolution=res)
        xs = rng.integers(0, g.width, n_pts)
        ys = rng.integers(0, g.height, n_pts)
        # clustered + uniform mix so trim and the median clamp both fire
        xs[: n_pts // 2] = xs[: n_pts // 2] % max(g.width // 7, 1)
        np.add.at(g.grid, (xs, ys), 1)
        g.total = int(g.grid.sum())
        exact = Area(g.y_to_lat(int(ys.min())), g.x_to_lon(int(xs.min())),
                     g.y_to_lat(int(ys.max()) + 1),
                     g.x_to_lon(int(xs.max()) + 1))
        grids.append((g, exact, res, max_nodes))
    lats, lons = _synth_points(60000, seed=11)
    g = _make_grid_from_points(lats, lons)
    exact = Area(int(lats.min()), int(lons.min()), int(lats.max()), int(lons.max()))
    grids.append((g, exact, RES, 400))

    for g, exact, res, max_nodes in grids:
        got = [(t.map_id, t.min_lat, t.min_long, t.max_lat, t.max_long)
               for t in split_area(g, exact, res, max_nodes)]
        assert len(got) > 10
        assert got == _direct_split(g, exact, res, max_nodes)


def _tiles(tiles):
    return [(t.map_id, t.min_lat, t.min_long, t.max_lat, t.max_long)
            for t in tiles]


@st.composite
def _split_cases(draw):
    """A dense grid at resolution 5-14 with its exact data bbox and a
    max_nodes: a sub-area of the planet grid up to 96 cells a side, or at
    resolution ≤ 8 the whole planet grid (its cell rows at the ±85° clamp
    included). Cells are uniform, clustered, on the first/last row or
    column, on one row or column, or at most 5 points."""
    res = draw(st.integers(5, 14))
    full = DensityGrid(PLANET, trim=True, resolution=res)
    if res <= 8 and draw(st.booleans()):
        bounds = PLANET
    else:
        w = draw(st.integers(2, min(96, full.width)))
        h = draw(st.integers(2, min(96, full.height)))
        x0 = draw(st.integers(0, full.width - w))
        y0 = draw(st.integers(0, full.height - h))
        bounds = Area(full.y_to_lat(y0), full.x_to_lon(x0),
                      full.y_to_lat(y0 + h), full.x_to_lon(x0 + w))
    g = DensityGrid(bounds, trim=True, resolution=res)
    kind = draw(st.sampled_from(["uniform", "clustered", "edge_rows",
                                 "edge_cols", "one_row", "one_col", "few"]))
    n = draw(st.integers(1, 5) if kind == "few" else st.integers(20, 3000))
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    xs = rng.integers(0, g.width, n)
    ys = rng.integers(0, g.height, n)
    if kind == "clustered":
        cx, cy = rng.integers(0, g.width), rng.integers(0, g.height)
        m = n * 3 // 4
        xs[:m] = np.clip(cx + rng.normal(0, g.width / 16 + 1, m), 0, g.width - 1)
        ys[:m] = np.clip(cy + rng.normal(0, g.height / 16 + 1, m), 0, g.height - 1)
    elif kind == "edge_rows":
        ys = rng.choice([0, g.height - 1], n)
    elif kind == "edge_cols":
        xs = rng.choice([0, g.width - 1], n)
    elif kind == "one_row":
        ys[:] = rng.integers(0, g.height)
    elif kind == "one_col":
        xs[:] = rng.integers(0, g.width)
    np.add.at(g.grid, (xs, ys), 1)
    g.total = int(g.grid.sum())
    # the extreme points lie somewhere inside their cells
    off = rng.integers(0, 1 << (24 - res), 4)
    exact = Area(g.y_to_lat(int(ys.min())) + int(off[0]),
                 g.x_to_lon(int(xs.min())) + int(off[1]),
                 g.y_to_lat(int(ys.max())) + int(off[2]),
                 g.x_to_lon(int(xs.max())) + int(off[3]))
    max_nodes = draw(st.integers(1, max(1, g.total // 2)))
    return g, exact, res, max_nodes


@settings(max_examples=200, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(_split_cases())
def test_split_area_matches_direct_recursion_property(case):
    g, exact, res, max_nodes = case
    assert _tiles(split_area(g, exact, res, max_nodes)) \
        == _direct_split(g, exact, res, max_nodes)


def test_refetch_path_matches_direct_recursion():
    """Nodes whose rounded bounds leave their window (the root's parity
    push past the planet grid's clamped edge row) are read again over
    their bounds; the tiles still equal the direct recursion's."""
    from osm2garmin_spark.split.quadtree import KeyIndex, split_levels

    rng = np.random.default_rng(7)
    g = DensityGrid(PLANET, trim=True, resolution=9)
    xs = rng.integers(0, g.width, 4000)
    ys = rng.integers(0, g.height, 4000)
    xs[:2000] %= g.width // 7
    np.add.at(g.grid, (xs, ys), 1)
    g.total = int(g.grid.sum())
    exact = Area(g.y_to_lat(int(ys.min())), g.x_to_lon(int(xs.min())),
                 g.y_to_lat(int(ys.max()) + 1), g.x_to_lon(int(xs.max()) + 1))
    stats = {}
    index = KeyIndex(*g.packed(), g.width, g.height)
    got = split_levels(index.window_stats, g.bounds, exact, 9, 50,
                       stats=stats)
    assert stats["refetched"] > 0
    assert _tiles(got) == _direct_split(g, exact, 9, 50)
