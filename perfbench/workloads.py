"""The three benchmark workloads.

Each workload generates its inputs from the seed, persists them, and then
runs jobs through the engine's public functions only. A job returns the
summaries that ``check`` compares against ``reference``: counts and
order-insensitive digests (``reference.py``), computed inside the job's own
final Spark action so checking costs no second pass over the output.

``job(tr)`` with ``tr=None`` is the untraced job. With a ``Tracer`` it makes
the same calls with a span around each layer and also returns the
per-layer counts (``layer``).
"""

from __future__ import annotations

import os
import shutil
from contextlib import nullcontext
from typing import Dict, Optional

import numpy as np
from pyspark.sql import DataFrame, functions as F

from osm2garmin_spark.expressions import derived_lat, derived_lon
from osm2garmin_spark.operators.knn import knn_grid
from osm2garmin_spark.operators.range_join import range_join_within
from osm2garmin_spark.operators.tile_join import assign_points_to_tiles
from osm2garmin_spark.pipeline.lineage import (LineageStore,
                                               read_committed_assigned,
                                               run_tiling_resumable)
from osm2garmin_spark.pipeline.synth import attach_geo, synth_images
from osm2garmin_spark.pipeline.tiling import (DEFAULT_FIRST_MAP_ID,
                                              run_tiling_pipeline)
from osm2garmin_spark.split.density import collect_density
from osm2garmin_spark.split.quadtree import split_area

from reference import (DIGEST_A, DIGEST_B, DIGEST_P, TilingCheck, knn_digest,
                       range_pairs_digest)


def id_offset(seed: int) -> int:
    """First generated id for a seed. Ids stay below 5e9 so every product
    in the synthetic coordinate generators fits in int64."""
    return 1 + (seed % 997) * 5_000_000


def spark_digest(df: DataFrame, a, b, sample=None) -> Dict[str, tuple]:
    """One Spark action: (count, sum, xor) of the pair hash over all rows,
    plus the same over the rows where ``sample`` holds."""
    a, b = a.cast("long"), b.cast("long")
    h = F.pmod(a * F.lit(DIGEST_A) + b * F.lit(DIGEST_B), F.lit(DIGEST_P))
    cols = [F.count(F.lit(1)), F.sum(h), F.bit_xor(h)]
    if sample is not None:
        hs = F.when(sample, h)
        cols += [F.count(hs), F.sum(hs), F.bit_xor(hs)]
    r = [0 if v is None else int(v) for v in df.select(*cols).first()]
    out = {"all": tuple(r[:3])}
    if sample is not None:
        out["sample"] = tuple(r[3:])
    return out


def tile_rows(tiles):
    return sorted((t.map_id, t.min_lat, t.min_long, t.max_lat, t.max_long)
                  for t in tiles)


def image_num():
    """The numeric part of an ``img<n>`` image id."""
    return F.regexp_replace(F.col("image_id"), "^img", "").cast("long")


def tiling_check(points: DataFrame, id_col: str, wl, twin: bool) -> TilingCheck:
    """Collect the points for the numpy checks; with ``twin``, also split
    them with the distributed quadtree (a second, independent split)."""
    twin_tiles = None
    if twin:
        res = run_tiling_pipeline(points, max_nodes=wl.max_nodes,
                                  resolution=wl.resolution, overlap=wl.overlap,
                                  split_strategy="distributed")
        twin_tiles = tile_rows(res.tiles)
    pdf = points.select(id_col, "lat", "lon").toPandas()
    return TilingCheck(pdf[id_col].to_numpy(np.int64), pdf["lat"].to_numpy(),
                       pdf["lon"].to_numpy(), wl.max_nodes, wl.resolution,
                       wl.overlap, DEFAULT_FIRST_MAP_ID, twin_tiles)


def span(tr, name):
    return nullcontext() if tr is None else tr.span(name)


class Workload:
    """setup(seed) generates and persists the inputs; job(tr) runs one job;
    after_job(out) runs untimed after each job (``out`` is None if the job
    raised); reference(twin) and check(out, ref) verify the outputs."""

    #: untimed jobs before the window (see README.md)
    warmup = 3

    def __init__(self, spark, workdir: str):
        self.spark = spark
        self.workdir = workdir

    def after_job(self, out: Optional[dict]) -> None:
        pass


class Tiling(Workload):
    """Density scan, driver quadtree at resolution 13, tile assignment."""

    name = "tiling"
    rows = 2_000_000
    max_nodes = 100_000
    resolution = 13
    overlap = 2000
    partitions = 16

    def setup(self, seed: int) -> int:
        off = id_offset(seed)
        ids = self.spark.range(off, off + self.rows, 1, self.partitions)
        corpus = ids.select(
            F.concat(F.lit("img"), F.col("id").cast("string")).alias("image_id"),
            F.col("id").alias("nid"))
        self.points = attach_geo(corpus).select("nid", "lat", "lon").persist()
        return self.points.count()

    def _digest(self, assigned):
        return spark_digest(assigned, F.col("nid"), F.col("tile_id"))["all"]

    def job(self, tr=None) -> dict:
        if tr is None:
            res = run_tiling_pipeline(self.points, max_nodes=self.max_nodes,
                                      resolution=self.resolution,
                                      overlap=self.overlap)
            return {"tiles": tile_rows(res.tiles),
                    "assign": self._digest(res.assigned)}
        # the calls run_tiling_pipeline makes, one span each
        with tr.span("split.density"):
            grid, exact = collect_density(self.points, "lat", "lon",
                                          self.resolution)
        with tr.span("split.quadtree"):
            tiles = split_area(grid, exact, self.resolution, self.max_nodes,
                               DEFAULT_FIRST_MAP_ID)
        with tr.span("operators.tile_join.assign"):
            assign = self._digest(assign_points_to_tiles(
                self.points, tiles, self.overlap))
        return {"tiles": tile_rows(tiles), "assign": assign,
                "layer": {"split.n_tiles": len(tiles),
                          "split.occupied_cells": int(np.count_nonzero(grid.grid)),
                          "operators.tile_join.assignments": assign[0],
                          "operators.tile_join.fanout": assign[0] / self.rows}}

    def reference(self, twin: bool) -> TilingCheck:
        return tiling_check(self.points, "nid", self, twin)

    def check(self, out: dict, ref: TilingCheck) -> list:
        return ref.problems(out["tiles"], out["assign"])


class SpatialJoin(Workload):
    """Fixed-radius range join, then grid kNN; no tiling code runs."""

    name = "spatial_join"
    queries = 20_000
    neighbors = 250_000
    radius_km = 150.0
    k = 3
    sample_mod = 50          # kNN is checked on q_id % 50 == 0
    partitions = 8
    warmup = 5               # its many small Spark jobs take longer to warm

    def _points(self, lo, n, idname):
        return (self.spark.range(lo, lo + n, 1, self.partitions)
                .select(F.col("id").alias(idname),
                        derived_lat(F.col("id")).alias("lat"),
                        derived_lon(F.col("id")).alias("lon")))

    def setup(self, seed: int) -> int:
        off = id_offset(seed)
        self.q = self._points(off, self.queries, "q_id").persist()
        self.n = self._points(off + 1_000_000, self.neighbors, "n_id").persist()
        self.qk = self.q.select("q_id", F.col("lat").alias("q_lat"),
                                F.col("lon").alias("q_lon"))
        self.nk = self.n.select("n_id", F.col("lat").alias("n_lat"),
                                F.col("lon").alias("n_lon"))
        return self.q.count() + self.n.count()

    def job(self, tr=None) -> dict:
        with span(tr, "operators.range_join"):
            pairs = spark_digest(range_join_within(self.q, self.n, self.radius_km),
                                 F.col("q_id"), F.col("n_id"))["all"]
        with span(tr, "operators.knn"):
            knn = knn_grid(self.qk, self.nk, self.k)
            kd = spark_digest(knn, F.col("q_id"), F.col("n_id") * 8 + F.col("rnk"),
                              sample=F.col("q_id") % self.sample_mod == 0)
        out = {"pairs": pairs, "knn_rows": kd["all"][0], "knn_sample": kd["sample"],
               "knn_all": kd["all"]}
        if tr is not None:
            out["layer"] = {"operators.range_join.pairs": pairs[0],
                            "operators.knn.rows": kd["all"][0]}
        return out

    def reference(self, twin: bool) -> dict:
        q = self.q.toPandas()
        n = self.n.toPandas()
        pairs = range_pairs_digest(q["q_id"].to_numpy(), q["lat"].to_numpy(),
                                   q["lon"].to_numpy(), n["n_id"].to_numpy(),
                                   n["lat"].to_numpy(), n["lon"].to_numpy(),
                                   self.radius_km)
        qs = q[q["q_id"] % self.sample_mod == 0]
        knn = knn_digest(qs["q_id"].to_numpy(), qs["lat"].to_numpy(),
                         qs["lon"].to_numpy(), n["n_id"].to_numpy(),
                         n["lat"].to_numpy(), n["lon"].to_numpy(), self.k)
        return {"pairs": pairs, "knn_rows": self.queries * self.k,
                "knn_sample": knn}

    def check(self, out: dict, ref: dict) -> list:
        bad = [f"{k} {out[k]} != {ref[k]}" for k in ("pairs", "knn_rows", "knn_sample")
               if out[k] != ref[k]]
        # the full kNN digest has no reference; every job must agree on it
        ref.setdefault("knn_all", out["knn_all"])
        if out["knn_all"] != ref["knn_all"]:
            bad.append("kNN output differs between jobs")
        return bad


class Resumable(Workload):
    """Lineage-committed tiling into a fresh directory: write + commit, a
    resume that skips every tile, and a read of the committed rows."""

    name = "resumable"
    rows = 50_000
    max_nodes = 10_000
    resolution = 11
    overlap = 2000
    partitions = 8
    warmup = 5               # the write path takes longer to warm

    def __init__(self, spark, workdir: str):
        super().__init__(spark, workdir)
        self.root = os.path.join(workdir, "resumable")
        self.n_jobs = 0

    def setup(self, seed: int) -> int:
        shutil.rmtree(self.root, ignore_errors=True)   # left by a killed run
        off = id_offset(seed)
        imgs = synth_images(self.spark, self.rows, partitions=self.partitions)
        relabeled = imgs.withColumn(
            "image_id", F.concat(F.lit("img"), (image_num() + off).cast("string")))
        self.corpus = attach_geo(relabeled).persist()
        return self.corpus.count()

    def _run(self, out_dir):
        return run_tiling_resumable(self.corpus, out_dir,
                                    max_nodes=self.max_nodes,
                                    overlap=self.overlap,
                                    resolution=self.resolution,
                                    id_col="image_id")

    def job(self, tr=None) -> dict:
        self.n_jobs += 1
        self.out_dir = os.path.join(self.root, f"job-{self.n_jobs}")
        with span(tr, "pipeline.lineage.write"):
            first = self._run(self.out_dir)
        with span(tr, "pipeline.lineage.resume"):
            second = self._run(self.out_dir)
        with span(tr, "pipeline.lineage.read"):
            back = read_committed_assigned(self.spark, self.out_dir,
                                           id_col="image_id")
            assign = spark_digest(back, image_num(), F.col("tile_id"))["all"]
        out = {"first": first, "second": second, "assign": assign}
        if tr is not None:
            out["layer"] = {"split.n_tiles": first["tiles"],
                            "operators.tile_join.assignments": assign[0],
                            "operators.tile_join.fanout": assign[0] / self.rows,
                            "pipeline.lineage.tiles_skipped": second["skipped"]}
        return out

    def after_job(self, out: Optional[dict]) -> None:
        """Record the tile list and, for traced jobs, what the job wrote;
        then remove the job's directory."""
        if out is not None:
            tiles = LineageStore(self.out_dir).load_tiles() or []
            out["tiles"] = tile_rows(tiles)
        if out is not None and "layer" in out:
            n_bytes = n_files = 0
            for d, _, files in os.walk(os.path.join(self.out_dir, "assigned")):
                for f in files:
                    if f.endswith(".parquet"):
                        n_files += 1
                        n_bytes += os.path.getsize(os.path.join(d, f))
            lineage = os.path.join(self.out_dir, "_lineage")
            manifests = [f for f in os.listdir(lineage) if f.endswith(".parquet")]
            out["layer"].update({"pipeline.lineage.bytes_written": n_bytes,
                                 "pipeline.lineage.files_written": n_files,
                                 "pipeline.lineage.manifests": len(manifests)})
        shutil.rmtree(self.out_dir, ignore_errors=True)

    def reference(self, twin: bool) -> TilingCheck:
        pts = self.corpus.select(image_num().alias("nid"), "lat", "lon")
        return tiling_check(pts, "nid", self, twin)

    def check(self, out: dict, ref: TilingCheck) -> list:
        n = len(out["tiles"])
        bad = ref.problems(out["tiles"], out["assign"])
        if out["first"] != {"tiles": n, "processed": n, "skipped": 0}:
            bad.append(f"first run returned {out['first']}")
        if out["second"] != {"tiles": n, "processed": 0, "skipped": n}:
            bad.append(f"resumed run returned {out['second']}")
        return bad


WORKLOADS = {w.name: w for w in (Tiling, SpatialJoin, Resumable)}
