"""Stratified-kNN skew evidence at bench scale (VERDICT r4 next-round #4).

Corpus: the 600k-neighbor bench corpus (derived_lat/lon — 30% already
clustered into 5 metro boxes) PLUS an injected 100x hot cell: 60k extra
neighbors inside one 0.05-degree box, ~100x the metro box density and
~10^5 x the global mean. 100k standard queries.

Measures, for knn_grid (one global auto-tuned cell) vs
knn_grid_stratified (per-density-band cells):
- wall time of the full exact kNN
- LEVEL-0 CANDIDATE ROWS PER DENSITY BAND: the ring-join output size a
  query in that band generates — the quantity the global cell lets blow
  up ~proportionally to local density and the per-band cell holds ~flat
- bit-identical result check between the two operators.

Prints one JSON line. Usage: python tools/bench_knn_skew.py [cores]
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F                            # noqa: E402

from osm2garmin_spark.expressions import derived_lat, derived_lon  # noqa: E402
from osm2garmin_spark.operators.knn import (SMALL_NEIGHBORS,       # noqa: E402
                                            knn_grid,
                                            knn_grid_stratified,
                                            plan_strata, tune_cell_deg)
from osm2garmin_spark.session import get_spark                     # noqa: E402

K = 3
HOT_N = 60_000
HOT_LAT, HOT_LON, HOT_BOX = 10.0, 10.0, 0.05


def corpus(spark):
    neigh = spark.range(0, 600_000).select(
        F.col("id").alias("n_id"),
        derived_lat(F.col("id")).alias("n_lat"),
        derived_lon(F.col("id")).alias("n_lon"))
    # the 100x hot cell: 60k points in a 0.05-deg box via integer LCG
    hot = spark.range(10_000_000, 10_000_000 + HOT_N).select(
        F.col("id").alias("n_id"),
        (F.lit(HOT_LAT) + ((F.col("id") * 48271 + 11) % 1000000)
         .cast("double") / 1000000.0 * HOT_BOX).alias("n_lat"),
        (F.lit(HOT_LON) + ((F.col("id") * 16807 + 7) % 1000000)
         .cast("double") / 1000000.0 * HOT_BOX).alias("n_lon"))
    neighbors = neigh.unionByName(hot)
    queries = spark.range(600_000, 700_000).select(
        F.col("id").alias("q_id"),
        derived_lat(F.col("id")).alias("q_lat"),
        derived_lon(F.col("id")).alias("q_lon"))
    return neighbors, queries


def band_candidates(queries, neighbors, cell_for_band, band_expr):
    """Level-0 ring-join candidate rows per query band: each query
    explodes to its 3x3 ring at its band's cell, neighbors key by their
    own cell at that band's size; count join rows grouped by band."""
    out = {}
    for band, cell in sorted(cell_for_band.items()):
        q = (queries.withColumn("_b", band_expr)
             .filter(F.col("_b") == band)
             .select("q_id",
                     F.floor(F.col("q_lat") / cell).cast("long").alias("cx"),
                     F.floor(F.col("q_lon") / cell).cast("long").alias("cy")))
        q = (q.select("q_id", F.explode(F.array(
            *[F.struct((F.col("cx") + dx).alias("jx"),
                       (F.col("cy") + dy).alias("jy"))
              for dx in (-1, 0, 1) for dy in (-1, 0, 1)])).alias("c"))
             .select("q_id", "c.jx", "c.jy"))
        nb = neighbors.select(
            F.floor(F.col("n_lat") / cell).cast("long").alias("jx"),
            F.floor(F.col("n_lon") / cell).cast("long").alias("jy"))
        out[band] = q.join(nb, ["jx", "jy"]).count()
    return out


def main():
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else \
        int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("bench-knn-skew", master=f"local[{cores}]",
                      shuffle_partitions=cores)
    neighbors, queries = corpus(spark)
    n_total = neighbors.count()
    assert n_total > SMALL_NEIGHBORS

    # the global auto-tuned cell (same formula knn_grid uses)
    global_cell = tune_cell_deg(neighbors, K)

    # band assignment from the SAME plan the stratified operator uses
    pstats, cell_to_stratum, stratum_cells, (step_lat, step_lon) = \
        plan_strata(neighbors, K)
    import itertools
    mapping = F.create_map(*itertools.chain.from_iterable(
        [(F.lit(f"{ix}_{iy}"), F.lit(s)) for ix, iy, s in cell_to_stratum]))
    qix = F.least(F.floor((F.col("q_lat") - F.lit(pstats["lat0"]))
                          / F.lit(step_lat)), F.lit(63)).cast("int")
    qiy = F.least(F.floor((F.col("q_lon") - F.lit(pstats["lon0"]))
                          / F.lit(step_lon)), F.lit(63)).cast("int")
    band_expr = F.coalesce(
        mapping[F.concat_ws("_", qix, qiy)], F.lit(0)).cast("int")

    cand_global = band_candidates(
        queries, neighbors, {b: global_cell for b in stratum_cells},
        band_expr)
    cand_strat = band_candidates(queries, neighbors, stratum_cells,
                                 band_expr)

    t0 = time.perf_counter()
    flat = knn_grid(queries, neighbors, K).localCheckpoint()
    n_flat = flat.count()
    wall_flat = time.perf_counter() - t0

    t1 = time.perf_counter()
    strat = knn_grid_stratified(queries, neighbors, K).localCheckpoint()
    n_strat = strat.count()
    wall_strat = time.perf_counter() - t1

    diff = flat.exceptAll(strat).count() + strat.exceptAll(flat).count()

    out = {
        "metric": "knn_skew_stratified_vs_global",
        "cores": cores,
        "n_neighbors": n_total,
        "n_queries": 100_000,
        "hot_cell": {"n": HOT_N, "box_deg": HOT_BOX},
        "global_cell_deg": round(global_cell, 4),
        "stratum_cells_deg": {str(k): round(v, 4)
                              for k, v in sorted(stratum_cells.items())},
        "level0_candidates_global_cell": {str(k): v for k, v in
                                          sorted(cand_global.items())},
        "level0_candidates_per_band_cell": {str(k): v for k, v in
                                            sorted(cand_strat.items())},
        "hot_band_reduction_x": round(
            cand_global[max(cand_global)] /
            max(cand_strat[max(cand_strat)], 1), 1),
        "wall_knn_grid_sec": round(wall_flat, 2),
        "wall_knn_grid_stratified_sec": round(wall_strat, 2),
        "rows_flat": n_flat,
        "rows_stratified": n_strat,
        "results_identical": diff == 0,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
