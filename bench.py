"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric", "value" (total sec), "unit", "queries" {name: sec},
"sf", plus throughput fields for the north-star metric}.

The flagship measurement is the tiling pipeline over a synthesized
image+caption corpus (the BASELINE.json input shape): rows joined+tiled per
second. ``--cores N`` overrides parallelism (used by tools/bench_scaling.py
for the N vs 4N scaling-efficiency evidence).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

CORPUS_ROWS = int(os.environ.get("BENCH_CORPUS_ROWS", "2000000"))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--only", nargs="*", default=None)
    ap.add_argument("--corpus-rows", type=int, default=CORPUS_ROWS)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    from osm2garmin_spark.session import get_spark
    from osm2garmin_spark import queries as Q
    from osm2garmin_spark.pipeline.synth import synth_images, attach_geo
    from osm2garmin_spark.pipeline.tiling import run_tiling_pipeline

    spark = get_spark("bench", master=f"local[{args.cores}]",
                      shuffle_partitions=args.cores)

    timings: dict[str, float] = {}
    extra: dict[str, float] = {}
    repeats = int(os.environ.get("BENCH_REPEATS", "2"))

    def timed(name, fn):
        # best-of-N (default 2): this sandbox shares CPUs with co-tenant
        # bursts that inflate single-shot wall times 3-5x unpredictably
        # (documented in BENCH.md); the minimum of two runs is the
        # noise-robust estimate of the engine's actual cost
        if args.only and name not in args.only:
            return
        best = None
        for _ in range(max(repeats, 1)):
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)

    # ---- flagship: full tiling pipeline over the image corpus ------------
    # corpus materialized (cached) outside the timer: the metric is the
    # engine's join+tile throughput, not the synthetic generator
    corpus = None
    if (not args.only or "tiling_pipeline_2m_images" in args.only
            or "tiling_verified" in (args.only or [])):
        t0 = time.perf_counter()
        corpus = attach_geo(synth_images(spark, args.corpus_rows,
                                         partitions=args.cores * 4)).persist()
        extra["corpus_rows"] = corpus.count()
        extra["corpus_gen_sec"] = round(time.perf_counter() - t0, 3)

    def tiling_bench():
        # resolution 11 = the reference's --resolution knob coarsened for
        # bench-scale tiles (max_nodes 100k ⇒ tiles span many cells either
        # way); bounds the density shuffle at 2048×1024 cells
        res = run_tiling_pipeline(corpus, max_nodes=100_000, resolution=11)
        n_assign = res.assigned.count()
        extra["tile_assignments"] = n_assign
        extra["n_tiles"] = len(res.tiles)

    timed("tiling_pipeline_2m_images", tiling_bench)
    if "tiling_pipeline_2m_images" in timings:
        # driver-state evidence for the scale rehearsal: the only corpus-
        # dependent driver allocation is the occupied-density-cell table
        # (bounded by the resolution-11 grid, 2048x1024 cells, NOT by
        # corpus rows) — peak Python-process RSS is where that toPandas
        # lands, so a flat maxrss across corpus sizes pins the bound
        import resource
        extra["driver_py_maxrss_mb"] = round(
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, 1)

    # scaling-evidence variant: density → split → assign → per-tile decode
    # verification (PSNR + caption). The decode pass is the dominant,
    # embarrassingly-parallel cost at corpus scale — rows joined, tiled AND
    # verified per second. Only runs when explicitly requested (--only).
    def tiling_verified_bench():
        # phase walls recorded so the N-vs-4N scaling evidence can separate
        # the parallel decode/verify pass from the driver-side quadtree
        # (the job's only serial component) — see tools/bench_scaling.py
        from osm2garmin_spark.pipeline.verify_tiles import tile_verification_summary
        p0 = time.perf_counter()
        res = run_tiling_pipeline(corpus, max_nodes=100_000, resolution=11)
        extra["phase_plan_sec"] = round(time.perf_counter() - p0, 3)
        summary = tile_verification_summary(res.assigned)
        agg = summary.agg({"n_rows": "sum", "n_pixel_ok": "sum"}).collect()[0]
        extra["phase_verify_sec"] = round(time.perf_counter() - p0
                                          - extra["phase_plan_sec"], 3)
        extra["tile_assignments"] = int(agg["sum(n_rows)"])
        extra["verified_ok"] = int(agg["sum(n_pixel_ok)"])
        extra["n_tiles"] = len(res.tiles)

    if args.only and "tiling_verified" in args.only:
        timed("tiling_verified", tiling_verified_bench)
    if "tiling_pipeline_2m_images" in timings:
        extra["tile_assignments_per_sec"] = round(
            extra["tile_assignments"] / timings["tiling_pipeline_2m_images"], 1)

    # ---- grid-kNN at scale: neighbors >> SMALL_NEIGHBORS forces the
    # cell-join + iterative-escalation path (never the broadcast numpy
    # dispatch) — the engine's flagship both-sides-large join
    def knn_grid_bench():
        import logging
        from pyspark.sql import functions as F
        from osm2garmin_spark.expressions import derived_lat, derived_lon
        from osm2garmin_spark.operators.knn import knn_grid

        msgs: list[str] = []

        class _Cap(logging.Handler):
            def emit(self, r):
                msgs.append(r.getMessage())

        knn_log = logging.getLogger("osm2garmin_spark.operators.knn")
        cap = _Cap()
        knn_log.addHandler(cap)
        old_level = knn_log.level
        knn_log.setLevel(logging.INFO)
        try:
            neigh = spark.range(0, 600_000).select(
                F.col("id").alias("n_id"),
                derived_lat(F.col("id")).alias("n_lat"),
                derived_lon(F.col("id")).alias("n_lon"))
            qpts = spark.range(600_000, 700_000).select(
                F.col("id").alias("q_id"),
                derived_lat(F.col("id")).alias("q_lat"),
                derived_lon(F.col("id")).alias("q_lon"))
            # explicit cell (slightly under the auto-tuned ~0.85°) forces
            # the documented explicit-grid path AND a non-empty iterative
            # escalation level — the code path VERDICT r2 #1 made lazy
            out = knn_grid(qpts, neigh, k=3, cell_deg=0.4)
            extra["knn_grid_rows"] = out.count()
        finally:
            knn_log.removeHandler(cap)
            knn_log.setLevel(old_level)
        # escalated fraction: the level-0 log line carries the level-0
        # escalated count ("level 0 (cell=C) resolved n/a, E escalate")
        import re as _re
        esc = 0
        for m in msgs:
            g = _re.search(r"level 0 \(.*\) resolved .*, (\d+) escalate", m)
            if g:
                esc = int(g.group(1))
                break
        extra["knn_grid_escalated"] = esc
        extra["knn_grid_escalated_frac"] = round(esc / 100_000, 5)

    timed("knn_grid_600k_neighbors", knn_grid_bench)

    # ---- hex-k-ring kNN at the same scale: the 7-cell-flower twin of
    # the bench above (same corpus, same k) — explicit res forces the
    # k-ring path and a non-empty escalation, so the two entries compare
    # square-ring (9x explode) vs hex-flower (7x explode) head-to-head
    def knn_hex_bench():
        from pyspark.sql import functions as F
        from osm2garmin_spark.expressions import derived_lat, derived_lon
        from osm2garmin_spark.operators.knn_hex import knn_hex_kring

        neigh = spark.range(0, 600_000).select(
            F.col("id").alias("n_id"),
            derived_lat(F.col("id")).alias("n_lat"),
            derived_lon(F.col("id")).alias("n_lon"))
        qpts = spark.range(600_000, 700_000).select(
            F.col("id").alias("q_id"),
            derived_lat(F.col("id")).alias("q_lat"),
            derived_lon(F.col("id")).alias("q_lon"))
        # res 4 sits one step finer than the auto-tuned lattice (a=0.52
        # deg -> between res 3 and 4), mirroring the grid bench's
        # explicit 0.4 deg cell: forces the k-ring path plus a non-empty
        # escalation tail without degenerating (res 5's flower holds
        # ~3.6 expected candidates for k=3 -> near-universal escalation)
        out = knn_hex_kring(qpts, neigh, k=3, res=4)
        extra["knn_hex_rows"] = out.count()

    timed("knn_hex_600k_neighbors", knn_hex_bench)

    # ---- headline sf-dir queries -----------------------------------------
    qs = Q.queries()
    headline = ["q1_pricing_summary", "q3_shipping_priority", "q5_region_volume",
                "top3_orders_per_customer", "density_histogram",
                "tile_assign_fixed", "way_tileset", "knn_customers_suppliers",
                "knn_stratified_customers_events", "knn_hex_customers_events",
                "range_join_customers_events", "range_knn_customers_events",
                "slippy_encode",
                "tile_webcover", "simplify_event_tracks", "geohash_encode",
                "s2_cell_encode", "hex_cell_encode", "hex_cover_filter", "geohash_cover_filter",
                "hex_compact_cover", "s2_compact_cover",
                "tile_boundary_raster",
                "pip_hexagon", "pip_partitioned", "pip_region_holes",
                "doc_text_features", "doc_simhash",
                "doc_token_bpe", "jaccard_pairs_docs", "embed_top3",
                "minhash_candidates", "dedup_clusters_docs",
                "crossmodal_dedup_clusters",
                "phash_near_pairs_images", "phash_dct_near_pairs_images",
                "phash_dedup_clusters",
                "ann_lsh_top3", "ann_ivf_top3",
                "image_decode_stats", "image_histogram_features",
                "video_frame_stats",
                "audio_window_features", "sessionize_events",
                "stream_tumbling_counts", "stream_session_windows",
                "apply_changes_gated", "tiling_pipeline_counts",
                # round 6: as-of join, deterministic sampling, trajectory,
                # edit refine, PQ ANN. dhash_near_pairs_images is gate-only:
                # the synthetic gradient corpus collapses dHash entropy
                # (horizontal gradient signs depend mostly on id%7), so at
                # sf0.1 its buckets go quadratic — a property of this
                # corpus, not the plan; documented in BENCH.md
                "asof_latest_order_per_event", "asof_next_order_per_event",
                "clicks_in_error_windows",
                "sample_events_hash", "sample_events_balanced",
                "track_lengths_per_user", "near_dup_edit_refine",
                "ann_pq_top3",
                # round 6 closing: decontamination, pyramid rollup,
                # bloom semi-join reduction, incremental dedup, top terms
                "decontaminate_docs", "tile_pyramid_events",
                "bloom_prune_lineitems", "incremental_dedup_new_docs",
                "doc_top_terms", "kmeans_embed_clusters",
                "funnel_signup_click_purchase", "doc_similar_top3",
                "image_pyramid_stats", "events_value_quantiles",
                "events_table_checksums", "pagerank_user_graph"]
    for name in headline:
        timed(name, lambda n=name: qs[n](spark, sf_dir).write
              .format("noop").mode("overwrite").save())

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "tile-assignments/sec (rows joined+tiled per second); "
                  "value = total headline-query wall time "
                  f"(best-of-{repeats} per query, shared-CPU sandbox)",
        "runs_per_query": repeats,
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cores": args.cores,
        **extra,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
