"""Stratified-kNN skew evidence at bench scale (VERDICT r4 next-round #4).

Corpus: 600k neighbors at uniform LCG coordinates (derived_lat/lon) PLUS
an injected hot box: 60k extra neighbors inside one 0.05-degree box,
~10^5 x the global mean density. Two query sets:
- "uniform": 100k queries at derived_lat/lon coordinates (few of them
  fall near the box);
- "in_hot_box": 2,000 queries inside the box, the regime the per-stratum
  cells exist for.

Per query set, knn_grid (one global auto-tuned cell) vs
knn_grid_stratified (per-stratum cells from the quadtree leaf plan):
- total LEVEL-0 CANDIDATE ROWS: the 3x3 ring-join output at each query's
  cell — the global cell lets it grow with local density, the stratum
  cell holds it near the target. The stratified count assigns queries
  with the operator's own column, StrataPlan.stratum_of;
- wall time of each operator's full exact kNN;
- whether the two results are identical.

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
HOT_Q = 2_000
HOT_LAT, HOT_LON, HOT_BOX = 10.0, 10.0, 0.05


def hot_points(spark, lo, n, id_col, lat_col, lon_col):
    """n points inside the hot box via integer LCGs, ids lo..lo+n-1."""
    return spark.range(lo, lo + n).select(
        F.col("id").alias(id_col),
        (F.lit(HOT_LAT) + ((F.col("id") * 48271 + 11) % 1000000)
         .cast("double") / 1000000.0 * HOT_BOX).alias(lat_col),
        (F.lit(HOT_LON) + ((F.col("id") * 16807 + 7) % 1000000)
         .cast("double") / 1000000.0 * HOT_BOX).alias(lon_col))


def corpus(spark):
    neigh = spark.range(0, 600_000).select(
        F.col("id").alias("n_id"),
        derived_lat(F.col("id")).alias("n_lat"),
        derived_lon(F.col("id")).alias("n_lon"))
    neighbors = neigh.unionByName(
        hot_points(spark, 10_000_000, HOT_N, "n_id", "n_lat", "n_lon"))
    uniform = spark.range(600_000, 700_000).select(
        F.col("id").alias("q_id"),
        derived_lat(F.col("id")).alias("q_lat"),
        derived_lon(F.col("id")).alias("q_lon"))
    hot = hot_points(spark, 20_000_000, HOT_Q, "q_id", "q_lat", "q_lon")
    return neighbors, {"uniform": uniform, "in_hot_box": hot}


def candidates(queries, neighbors, cell):
    """Level-0 ring-join candidate rows at one cell: each query explodes
    to its 3x3 ring, neighbors key by their own cell; count the join."""
    q = queries.select(
        "q_id",
        F.floor(F.col("q_lat") / cell).cast("long").alias("cx"),
        F.floor(F.col("q_lon") / cell).cast("long").alias("cy"))
    q = (q.select("q_id", F.explode(F.array(
        *[F.struct((F.col("cx") + dx).alias("jx"),
                   (F.col("cy") + dy).alias("jy"))
          for dx in (-1, 0, 1) for dy in (-1, 0, 1)])).alias("c"))
         .select("q_id", "c.jx", "c.jy"))
    nb = neighbors.select(
        F.floor(F.col("n_lat") / cell).cast("long").alias("jx"),
        F.floor(F.col("n_lon") / cell).cast("long").alias("jy"))
    return q.join(nb, ["jx", "jy"]).count()


def timed(fn):
    t0 = time.perf_counter()
    out = fn().localCheckpoint()
    out.count()
    return out, round(time.perf_counter() - t0, 2)


def main():
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else \
        int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("bench-knn-skew", master=f"local[{cores}]",
                      shuffle_partitions=cores)
    neighbors, query_sets = corpus(spark)
    n_total = neighbors.count()
    assert n_total > SMALL_NEIGHBORS

    # the global auto-tuned cell (same formula knn_grid uses)
    global_cell = tune_cell_deg(neighbors, K)
    plan = plan_strata(neighbors, K)
    strata = sorted({s for _, s in plan.leaves})

    out = {
        "metric": "knn_skew_stratified_vs_global",
        "cores": cores,
        "n_neighbors": n_total,
        "hot_box": {"n": HOT_N, "box_deg": HOT_BOX},
        "global_cell_deg": round(global_cell, 4),
        "n_leaves": len(plan.leaves),
        "stratum_cells_deg": {str(s): 2.0 ** s for s in strata},
        "default_stratum": plan.default,
    }
    for name, queries in query_sets.items():
        q = queries.withColumn(
            "_s", plan.stratum_of(F.col("q_lat"), F.col("q_lon"))
        ).localCheckpoint()
        flat, wall_flat = timed(lambda: knn_grid(queries, neighbors, K))
        strat, wall_strat = timed(
            lambda: knn_grid_stratified(queries, neighbors, K))
        diff = flat.exceptAll(strat).count() + strat.exceptAll(flat).count()
        out[name] = {
            "n_queries": q.count(),
            "queries_per_stratum": {
                str(r["_s"]): r["count"]
                for r in q.groupBy("_s").count().orderBy("_s").collect()},
            "level0_candidates_global_cell": candidates(
                q, neighbors, global_cell),
            "level0_candidates_stratified": sum(
                candidates(q.filter(F.col("_s") == s), neighbors, 2.0 ** s)
                for s in strata),
            "wall_knn_grid_sec": wall_flat,
            "wall_knn_grid_stratified_sec": wall_strat,
            "rows_flat": flat.count(),
            "rows_stratified": strat.count(),
            "results_identical": diff == 0,
        }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
