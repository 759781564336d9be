"""Contour stitching at SRTM scale: fragments, wall time and Spark jobs.

Inputs (both from one seeded SRTM-like 1201 x 1201 uint8 raster, fixed
step 25, samples kept off the levels so every endpoint is a plain seam
crossing):
- "raster": the raster as one image, extracted with window=121 (the
  reference's 10 x 10 subtile layout), then ``stitch_contours``;
- "mosaic": the raster cut into a 2 x 2 mosaic of 601-sample tiles that
  share their boundary row and column, each extracted with window=121,
  then ``stitch_mosaic``.

The oracle for both is the unwindowed single-image stitch. Per input it
reports fragments in and out, the stitch wall time (the extracted
fragments are checkpointed first, so extraction is not timed), the Spark
jobs the stitch launches (a job-group count over ``collect()``) and
whether the stitched keysets equal the oracle's.

Prints one JSON line. Usage:
    python tools/bench_contours.py [--cores N] [--only raster|mosaic]
"""

import argparse
import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from osm2garmin_spark.operators.contours import (                  # noqa: E402
    extract_contours, stitch_contours, stitch_mosaic)
from osm2garmin_spark.session import get_spark                     # noqa: E402

SIZE, WINDOW, STEP, TILE = 1201, 121, 25.0, 601
SEED = 1201


def srtm_like(seed=SEED, size=SIZE):
    """Terrain-like uint8 raster: ten octaves of bilinearly upsampled
    noise (2 + 1 to 1024 + 1 nodes a side, amplitude / 1.25 per octave)
    scaled to 1..250, with samples on a multiple of STEP moved one unit
    up. Rough enough to give ~21k window fragments at window=121."""
    rng = np.random.default_rng(seed)
    t = np.linspace(0.0, 1.0, size)
    z = np.zeros((size, size))
    for octave in range(1, 11):
        n = 2 ** octave + 1
        coarse = rng.normal(size=(n, n)) / 1.25 ** octave
        src = np.linspace(0.0, 1.0, n)
        rows = np.array([np.interp(t, src, r) for r in coarse])
        z += np.array([np.interp(t, src, c) for c in rows.T]).T
    z = 1 + (z - z.min()) / (z.max() - z.min()) * 249
    grid = np.rint(z).astype(np.uint8)
    grid[grid % int(STEP) == 0] += 1
    return grid


def images(spark, tiles):
    rows = [(iid, g.tobytes(), g.shape[1], g.shape[0], "raw")
            for iid, g in tiles]
    return spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string")


def keysets(rows):
    """{level: sorted point sets}, image ids dropped; a closed ring drops
    its repeated closing vertex (where a ring starts is representation)."""
    out = {}
    for r in rows:
        xs, ys = r["xs"], r["ys"]
        if r["closed"] and xs[0] == xs[-1] and ys[0] == ys[-1]:
            xs, ys = xs[:-1], ys[:-1]
        pts = tuple(sorted(zip(np.round(xs, 9), np.round(ys, 9))))
        out.setdefault(r["level"], []).append(pts)
    return {k: sorted(v) for k, v in out.items()}


def timed_stitch(spark, build, group):
    """Wall time and job count of ``build().collect()``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group, False)
    t0 = time.perf_counter()
    rows = build().collect()
    wall = time.perf_counter() - t0
    sc.setLocalProperty("spark.jobGroup.id", None)
    return rows, round(wall, 3), len(sc.statusTracker().getJobIdsForGroup(group))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=int(
        os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4)))
    ap.add_argument("--only", choices=("raster", "mosaic"))
    args = ap.parse_args()
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    spark = get_spark("bench-contours", master=f"local[{args.cores}]",
                      shuffle_partitions=args.cores)
    grid = srtm_like()
    whole = images(spark, [("g", grid)])
    # the oracle stitch also warms the stitch's code path
    oracle_frags = extract_contours(whole, step=STEP).localCheckpoint()
    oracle = keysets(stitch_contours(oracle_frags).collect())
    out = {"metric": "contour_stitch", "cores": args.cores, "size": SIZE,
           "window": WINDOW, "step": STEP,
           "oracle_fragments": sum(len(v) for v in oracle.values())}

    cases = {}
    if args.only in (None, "raster"):
        frags = extract_contours(whole, step=STEP, window=WINDOW)
        cases["raster"] = (frags, lambda f: stitch_contours(f))
    if args.only in (None, "mosaic"):
        o = TILE - 1
        tiles = [(f"t{ty}{tx}", grid[ty * o:ty * o + TILE, tx * o:tx * o + TILE])
                 for ty in (0, 1) for tx in (0, 1)]
        offsets = spark.createDataFrame(
            [(iid, float(iid[2] == "1") * o, float(iid[1] == "1") * o)
             for iid, _ in tiles],
            "image_id string, off_x double, off_y double")
        frags = extract_contours(images(spark, tiles), step=STEP,
                                 window=WINDOW)
        cases["mosaic"] = (frags, lambda f: stitch_mosaic(f, offsets))

    for name, (frags, stitch) in cases.items():
        frags = frags.localCheckpoint()
        n_in = frags.count()
        rows, wall, jobs = timed_stitch(spark, lambda: stitch(frags),
                                        f"stitch-{name}")
        out[name] = {
            "fragments_in": n_in,
            "fragments_out": len(rows),
            "stitch_s": wall,
            "spark_jobs": jobs,
            "keysets_equal_oracle": keysets(rows) == oracle,
            "open_out": sum(not r["closed"] for r in rows),
        }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
