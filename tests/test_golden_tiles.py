"""Pinned tiles: every tile's (map_id, min_lat, min_long, max_lat,
max_long) for a fixed set of corpora must never change.

The values in ``golden_tiles.json`` were recorded with the dense-grid
summed-area-table split, so they also pin the cell-index split to it.
Regenerate only on purpose, from the repository root, with
``PYTHONPATH=. python tests/test_golden_tiles.py``.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from osm2garmin_spark.expressions import derived_lat, derived_lon
from osm2garmin_spark.geo.area import Area, PLANET
from osm2garmin_spark.geo.units import to_map_unit
from osm2garmin_spark.pipeline.synth import attach_geo
from osm2garmin_spark.split.density import collect_density
from osm2garmin_spark.split.quadtree import DensityGrid, split_area

GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "golden_tiles.json")


def _derived(spark, n, salt=0):
    return spark.range(0, n).select(
        F.col("id").alias("event_id"),
        derived_lat(F.col("id") + salt).alias("lat"),
        derived_lon(F.col("id") + salt).alias("lon"))


def _sliver(spark):
    return spark.range(0, 3000).select(
        F.col("id").alias("event_id"),
        ((F.col("id") / 600).cast("int") * 10.0 - 20.0).alias("lat"),
        ((F.col("id") % 600) / 60.0 - 5.0).alias("lon"))


def _metros(spark):
    ids = spark.range(0, 200_000, 1, 4)
    return attach_geo(ids.select(
        F.concat(F.lit("img"), F.col("id").cast("string")).alias("image_id")))


_CUSTOM = Area(int(to_map_unit(-60.0)), int(to_map_unit(-100.0)),
               int(to_map_unit(70.0)), int(to_map_unit(120.0)))

#: name → (spark → corpus, resolution, max_nodes, density bounds)
CORPORA = {
    "derived-5000-300-0-13": (lambda s: _derived(s, 5000, 0), 13, 300, PLANET),
    "derived-5000-300-123456-13": (lambda s: _derived(s, 5000, 123456), 13, 300,
                                   PLANET),
    "derived-20000-900-7-11": (lambda s: _derived(s, 20000, 7), 11, 900, PLANET),
    "derived-800-50-99-12": (lambda s: _derived(s, 800, 99), 12, 50, PLANET),
    "custom-bounds-5000-300-13": (lambda s: _derived(s, 5000), 13, 300, _CUSTOM),
    "bottom-sliver-3000-300-13": (_sliver, 13, 300, PLANET),
    "metros-200000-1000-13": (_metros, 13, 1000, PLANET),
}


def _rows(tiles):
    return [[t.map_id, t.min_lat, t.min_long, t.max_lat, t.max_long]
            for t in tiles]


def _corpus_tiles(spark, name):
    build, res, max_nodes, bounds = CORPORA[name]
    grid, exact = collect_density(build(spark), resolution=res, bounds=bounds)
    return _rows(split_area(grid, exact, res, max_nodes))


def _single_point_tiles():
    """The padded-bbox fallback: one point in a sub-alignment sliver."""
    grid = DensityGrid(PLANET, trim=True, resolution=13)
    lat, lon = to_map_unit(40.2000), to_map_unit(-74.4999)
    b = grid.bounds
    grid.grid[(lon - b.min_long) >> grid.shift, (lat - b.min_lat) >> grid.shift] = 1
    grid.total = 1
    return _rows(split_area(grid, Area(lat, lon, lat + 1, lon + 1), 13, 100))


def _load():
    with open(GOLDEN) as f:
        return json.load(f)


@pytest.mark.parametrize("name", sorted(CORPORA))
def test_golden_corpus_tiles(spark, name):
    assert _corpus_tiles(spark, name) == _load()[name]


def test_golden_single_point_fallback():
    assert _single_point_tiles() == _load()["single-point-fallback-13"]


if __name__ == "__main__":
    from osm2garmin_spark.session import get_spark

    spark = get_spark("golden-tiles", master="local[4]", shuffle_partitions=4)
    golden = {name: _corpus_tiles(spark, name) for name in sorted(CORPORA)}
    golden["single-point-fallback-13"] = _single_point_tiles()
    with open(GOLDEN, "w") as f:     # one tile per line
        f.write("{\n" + ",\n".join(
            json.dumps(name) + ": [\n" + ",\n".join(map(json.dumps, tiles)) + "\n]"
            for name, tiles in sorted(golden.items())) + "\n}\n")
    print({k: len(v) for k, v in golden.items()})
