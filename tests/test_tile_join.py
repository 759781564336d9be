"""Distributed density + tile-assignment vs brute-force numpy oracles."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm2garmin_spark.geo.area import Area, PLANET
from osm2garmin_spark.geo.units import to_map_unit
from osm2garmin_spark.pipeline.synth import synth_images, attach_geo
from osm2garmin_spark.pipeline.tiling import run_tiling_pipeline
from osm2garmin_spark.split.density import collect_density
from osm2garmin_spark.operators.tile_join import assign_points_to_tiles
from osm2garmin_spark.operators.group_join import assign_groups_to_tiles

N = 4000
MAX_NODES = 400
OVERLAP = 2000


@pytest.fixture(scope="module")
def corpus(spark):
    df = attach_geo(synth_images(spark, N, partitions=4)).cache()
    df.count()
    return df


def _brute_force_assign(lats_mu, lons_mu, tiles, overlap):
    """independent per-point loop over extended bboxes (closed bounds)"""
    out = set()
    for i, (la, lo) in enumerate(zip(lats_mu, lons_mu)):
        for t in tiles:
            if (la >= t.min_lat - overlap and la <= t.max_lat + overlap
                    and lo >= t.min_long - overlap and lo <= t.max_long + overlap):
                out.add((i, t.map_id))
    return out


def test_density_matches_bruteforce(spark, corpus):
    grid, exact = collect_density(corpus, "lat", "lon", 13, PLANET)
    pdf = corpus.select("lat", "lon").toPandas()
    lats = to_map_unit(pdf["lat"].to_numpy())
    lons = to_map_unit(pdf["lon"].to_numpy())
    assert exact.min_lat == int(lats.min()) and exact.max_lat == int(lats.max())
    assert exact.min_long == int(lons.min()) and exact.max_long == int(lons.max())

    b = grid.bounds
    inb = ((lats >= b.min_lat) & (lats <= b.max_lat)
           & (lons >= b.min_long) & (lons <= b.max_long))
    assert grid.node_count() == int(inb.sum())
    # spot-check a few hot cells
    xs = np.minimum((lons[inb] - b.min_long) >> grid.shift, grid.width - 1)
    ys = np.minimum((lats[inb] - b.min_lat) >> grid.shift, grid.height - 1)
    oracle = np.zeros_like(grid.grid)
    np.add.at(oracle, (xs, ys), 1)
    assert (oracle == grid.grid).all()


def test_pipeline_assignment_matches_bruteforce(spark, corpus):
    res = run_tiling_pipeline(corpus, max_nodes=MAX_NODES, overlap=OVERLAP)
    assert res is not None and len(res.tiles) > 3

    pdf = corpus.select("image_id", "lat", "lon").toPandas().sort_values("image_id").reset_index(drop=True)
    lats = to_map_unit(pdf["lat"].to_numpy())
    lons = to_map_unit(pdf["lon"].to_numpy())
    id_index = {iid: i for i, iid in enumerate(pdf["image_id"])}

    want = _brute_force_assign(lats, lons, res.tiles, OVERLAP)
    got_rows = res.assigned.select("image_id", "tile_id").collect()
    got = {(id_index[r["image_id"]], r["tile_id"]) for r in got_rows}
    assert got == want

    # per-tile counts agree
    counts = {r["tile_id"]: r["n_rows"] for r in res.counts.collect()}
    from collections import Counter
    want_counts = Counter(t for _, t in want)
    assert counts == dict(want_counts)


def test_multi_assignment_exists(spark, corpus):
    """overlap ⇒ some points land in >1 tile"""
    res = run_tiling_pipeline(corpus, max_nodes=MAX_NODES, overlap=OVERLAP)
    from pyspark.sql import functions as F
    multi = (res.assigned.groupBy("image_id")
             .agg(F.count("*").alias("n")).filter("n > 1").count())
    assert multi > 0


def test_group_join_union(spark, corpus):
    res = run_tiling_pipeline(corpus, max_nodes=MAX_NODES, overlap=OVERLAP)
    from pyspark.sql import functions as F

    node_tiles = res.assigned.select(F.col("image_id").alias("node_id"), "tile_id")
    # groups of 8 consecutive images
    members = corpus.select(
        (F.regexp_replace("image_id", "^img", "").cast("long") / 8).cast("long").alias("group_id"),
        F.col("image_id").alias("ref"))
    got = assign_groups_to_tiles(members, node_tiles).collect()

    # oracle: union of member tile sets
    nt = node_tiles.collect()
    from collections import defaultdict
    tilesets = defaultdict(set)
    for r in nt:
        gid = int(r["node_id"][3:]) // 8
        tilesets[gid].add(r["tile_id"])
    got_map = {r["group_id"]: list(r["tile_ids"]) for r in got}
    assert got_map == {g: sorted(s) for g, s in tilesets.items()}


def test_salted_collect_set_matches_plain(spark, corpus):
    from osm2garmin_spark.operators.skew import salted_collect_set, salted_count
    from pyspark.sql import functions as F

    res = run_tiling_pipeline(corpus, max_nodes=MAX_NODES, overlap=OVERLAP)
    nt = res.assigned.select(F.col("image_id").alias("node_id"), "tile_id")
    plain = {r["tile_id"]: r["n"] for r in
             nt.groupBy("tile_id").agg(F.count("*").alias("n")).collect()}
    salted = {r["tile_id"]: r["n_rows"] for r in
              salted_count(nt, "tile_id", "node_id").collect()}
    assert plain == salted

    members = corpus.select(
        (F.regexp_replace("image_id", "^img", "").cast("long") / 8).cast("long").alias("group_id"),
        F.col("image_id").alias("ref"))
    j = members.join(nt.withColumnRenamed("node_id", "ref"), "ref")
    plain_sets = {r["group_id"]: sorted(r["s"]) for r in
                  j.groupBy("group_id").agg(F.collect_set("tile_id").alias("s")).collect()}
    salted_sets = {r["group_id"]: list(r["tile_ids"]) for r in
                   salted_collect_set(j, "group_id", "tile_id", "ref").collect()}
    assert plain_sets == salted_sets


def test_filter_invalid_members_and_strip_tags(spark):
    """Explicit invalid-member cleanse (SplitProcessor skip semantics as a
    standalone step) + created_by ingest strip (map_filter, no UDF)."""
    from osm2garmin_spark.operators.group_join import (
        filter_invalid_members, strip_ingest_tags)
    from pyspark.sql import functions as F

    members = spark.createDataFrame(
        [(1, 10), (1, 99), (2, 20), (3, 777)], "group_id long, ref long")
    nodes = spark.createDataFrame([(10,), (20,), (30,)], "node_id long")
    kept = filter_invalid_members(members, nodes).collect()
    assert sorted((r["group_id"], r["ref"]) for r in kept) == [(1, 10), (2, 20)]

    tagged = spark.createDataFrame(
        [(1, {"created_by": "ed", "name": "x"}), (2, {"name": "y"})],
        "id long, tags map<string,string>")
    out = {r["id"]: dict(r["tags"]) for r in strip_ingest_tags(tagged).collect()}
    assert out == {1: {"name": "x"}, 2: {"name": "y"}}


def test_keep_complete_pulls_out_of_bounds_members(spark):
    """--keep-complete: a way's tile receives ALL member nodes, including
    nodes that landed in no tile themselves (OsmMaker.java:71-76)."""
    from osm2garmin_spark.operators.group_join import keep_complete_nodes
    from pyspark.sql import functions as F

    node_tiles = spark.createDataFrame(
        [(10, 1), (20, 1), (30, 2)], "node_id long, tile_id int")
    members = spark.createDataFrame(
        [(100, 10), (100, 99),    # way 100: node 99 fell outside every tile
         (200, 30)], "group_id long, ref long")
    group_tiles = spark.createDataFrame(
        [(100, [1]), (200, [2])],
        "group_id long, tile_ids array<int>")
    out = {(r["node_id"], r["tile_id"]) for r in
           keep_complete_nodes(members, node_tiles, group_tiles).collect()}
    assert out == {(10, 1), (20, 1), (30, 2), (99, 1)}


def _rows(spark, rows, partitions=1):
    return spark.createDataFrame(rows, "event_id long, lat double, lon double") \
        .repartition(partitions)


def test_density_no_rows_inside_bounds(spark):
    """An empty input and an all-polar input (|lat| > 85, outside the
    density grid) both give (grid, None), and the pipeline returns None."""
    from osm2garmin_spark.split.quadtree import split_area

    empty = _rows(spark, [])
    polar = _rows(spark, [(i, (-1) ** i * (85.5 + i * 0.4), i * 10.0)
                          for i in range(10)], partitions=3)
    for df in (empty, polar):
        grid, exact = collect_density(df, "lat", "lon", 13, PLANET)
        assert exact is None and grid.node_count() == 0
        assert split_area(grid, Area(0, 0, 1, 1), 13, 100) == []
        assert run_tiling_pipeline(df, max_nodes=100) is None


@pytest.mark.parametrize("case", ["one-row", "single-partition", "lon+180"])
def test_density_observed_bounds_equal_exact_bounds(spark, case):
    """The bounds observed on the density scan equal exact_bounds(), and
    every input row lands in a tile — including a point at lon = +180,
    the closed max edge of the planet grid."""
    from osm2garmin_spark.expressions import derived_lat, derived_lon
    from osm2garmin_spark.split.density import exact_bounds

    if case == "one-row":
        df = _rows(spark, [(7, 48.85, 2.35)])
    elif case == "single-partition":
        df = spark.range(0, 3000, 1, 1).select(
            F.col("id").alias("event_id"), derived_lat(F.col("id")).alias("lat"),
            derived_lon(F.col("id")).alias("lon"))
    else:
        df = _rows(spark, [(0, 10.0, 180.0), (1, -12.5, 179.99), (2, 33.0, -120.0),
                           (3, -40.0, 100.0)], partitions=2)
    n = df.count()
    grid, exact = collect_density(df, "lat", "lon", 13, PLANET)
    assert exact == exact_bounds(df, "lat", "lon")
    assert grid.node_count() == n

    res = run_tiling_pipeline(df, max_nodes=max(n // 10, 1), overlap=0)
    assert res is not None
    assert res.assigned.select("event_id").distinct().count() == n
