"""Physical-plan regression guards: the scale story is the plan shape,
which — unlike wall-clock on this shared box — is deterministic. These
pin the claims made in BENCH.md/README."""

import io
import contextlib

import pytest
from conftest import job_group
from pyspark.sql import functions as F

from osm2garmin_spark.expressions import derived_lat, derived_lon

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_tile_join_is_broadcast_no_fact_shuffle(spark):
    """Tile assignment: BroadcastHashJoin on the cell key; the fact side
    must reach the join without an Exchange."""
    from osm2garmin_spark.pipeline import synth_images, attach_geo
    from osm2garmin_spark.geo.area import Area
    from osm2garmin_spark.operators.tile_join import assign_points_to_tiles

    pts = attach_geo(synth_images(spark, 2000, partitions=4))
    tiles = [Area(-2_000_000, -2_000_000, 2_000_000, 2_000_000, map_id=1),
             Area(2_000_000, -2_000_000, 3_000_000, 2_000_000, map_id=2)]
    plan = _plan(assign_points_to_tiles(pts, tiles, overlap=2000))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the only Exchange allowed is the broadcast of the tile-cell table
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "Broadcast" in line, f"fact-side shuffle leaked in: {line}"


def test_density_histogram_partial_aggregation(spark):
    """Density scan: partial (map-side) + final HashAggregate around ONE
    shuffle."""
    from osm2garmin_spark.split.density import density_cells

    pts = spark.range(0, 1000).select(
        F.col("id").alias("event_id"),
        derived_lat(F.col("id")).alias("lat"),
        derived_lon(F.col("id")).alias("lon"))
    import re
    plan = _plan(density_cells(pts))
    assert plan.count("HashAggregate") >= 2      # partial + final
    # formatted plans list each operator twice (tree + detail) — count ids
    exchange_ids = set(re.findall(r"\((\d+)\) Exchange", plan))
    assert len(exchange_ids) == 1


def test_scan_prunes_columns(spark):
    """A 2-column projection must reach the parquet scan as a 2-column
    ReadSchema (Catalyst column pruning — SURVEY §2.2)."""
    df = spark.read.parquet(f"{SF}/lineitem.parquet") \
        .select("l_orderkey", "l_quantity")
    plan = _plan(df)
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" in read and "l_quantity" in read
    assert "l_extendedprice" not in read and "l_comment" not in read


def test_scan_pushes_filters(spark):
    df = spark.read.parquet(f"{SF}/lineitem.parquet") \
        .filter(F.col("l_quantity") >= 48).select("l_partkey")
    plan = _plan(df)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "l_quantity" in pushed[0]


def test_distributed_split_level_join_is_hash_not_nlj(spark):
    """The level aggregation's cells→windows association must plan as a
    BroadcastHashJoin on the block prefix (round 1 planned a
    BroadcastNestedLoopJoin: O(cells × nodes) per level)."""
    import pandas as pd
    from osm2garmin_spark.split.density import density_cells
    from osm2garmin_spark.split.distributed import _block_shift

    pts = spark.range(0, 2000).select(
        F.col("id").alias("event_id"),
        derived_lat(F.col("id")).alias("lat"),
        derived_lon(F.col("id")).alias("lon"))
    cells = density_cells(pts)
    k = _block_shift([(4096, 2048)])
    win = spark.createDataFrame(pd.DataFrame(
        [(0, bx, by, 0, 4096, 0, 2048)
         for bx in range(0, (4095 >> k) + 1)
         for by in range(0, (2047 >> k) + 1)],
        columns=["node_id", "_bx", "_by", "wx0", "wx1", "wy0", "wy1"]))
    j = (cells.withColumn("_bx", F.shiftright("cell_x", k))
         .withColumn("_by", F.shiftright("cell_y", k))
         .join(F.broadcast(win), ["_bx", "_by"])
         .filter((F.col("cell_x") >= F.col("wx0"))
                 & (F.col("cell_x") < F.col("wx1"))
                 & (F.col("cell_y") >= F.col("wy0"))
                 & (F.col("cell_y") < F.col("wy1")))
         .groupBy("node_id", "cell_x").agg(F.sum("cnt")))
    plan = _plan(j)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ann_autosizing_runs_no_count_scan(spark):
    """VERDICT r2 #3 + r3 #3: ANN auto-sizing must not pay a full corpus
    count() pass — plane/nlist sizing comes from caller-supplied n_rows
    (parquet footer metadata / catalog stats). Building the LSH query DF
    must launch ZERO Spark jobs; the IVF build without a caller-supplied
    sample may launch only the early-terminating CollectLimit sample job —
    never a TakeOrdered/global-sort full pass, and never a count()."""
    import numpy as np
    import pandas as pd
    from osm2garmin_spark.functions import similarity as S
    from osm2garmin_spark.queries import _parquet_rows

    # the metadata row-count path (what queries.py threads as n_rows)
    meta_n = _parquet_rows("/root/testdata/sf0.001", "embeddings")
    spark_n = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet").count()
    assert meta_n == spark_n

    rng = np.random.default_rng(3)
    emb = pd.DataFrame({
        "vec_id": np.arange(400),
        "embedding": [rng.normal(size=16).tolist() for _ in range(400)]})
    corpus = spark.createDataFrame(emb).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    qs = spark.createDataFrame(emb.head(5)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))

    sc = spark.sparkContext
    st = sc.statusTracker()
    with job_group(sc, "ann-lsh-build"):
        df = S.ann_lsh_topk(qs, corpus, k=3, dim=16, n_rows=400)
    lsh_jobs = st.getJobIdsForGroup("ann-lsh-build")
    with job_group(sc, "ann-ivf-build"):
        df2 = S.ivf_topk(qs, corpus, k=3, dim=16, n_rows=400)
    ivf_jobs = st.getJobIdsForGroup("ann-ivf-build")

    assert len(lsh_jobs) == 0, f"LSH build launched jobs: {lsh_jobs}"
    # the IVF fallback build is allowed its early-terminating
    # CollectLimit sample job but must NOT run a count() scan for nlist
    # sizing nor a TakeOrdered full pass for the training sample
    # (VERDICT r3 #3)
    stage_names = []
    for jid in ivf_jobs:
        ji = st.getJobInfo(jid)
        for sid in (ji.stageIds if ji else []):
            si = st.getStageInfo(sid)
            if si:
                stage_names.append(si.name)
    assert not any("count" in n for n in stage_names), stage_names
    assert not any("takeOrdered" in n or "sortBy" in n
                   for n in stage_names), stage_names
    # the DataFrames still execute correctly
    with job_group(sc, "ann-run"):
        assert df.count() > 0 and df2.count() > 0
    assert sc.getLocalProperty("spark.jobGroup.id") is None


def test_ivf_footer_sample_build_runs_zero_jobs(spark):
    """VERDICT r3 #3 (closed form): with BOTH stats legs supplied from
    parquet footers — n_rows for nlist sizing and the leading-row-group
    training sample — building the full ann_ivf_top3 DataFrame launches
    ZERO Spark jobs (centroid training is driver numpy over metadata; no
    TakeOrdered, no CollectLimit, no count)."""
    import numpy as np
    from osm2garmin_spark.queries import (_parquet_sample_vecs,
                                          ann_ivf_top3)
    from osm2garmin_spark.functions.similarity import train_ivf_centroids

    sv = _parquet_sample_vecs("/root/testdata/sf0.001", "embeddings",
                              "vec_id", "embedding", 4096)
    assert sv is not None and sv.shape == (500, 64)
    # the footer sample obeys the same 'first rows, id-sorted' contract
    # as the fallback limit() scan, so on a corpus that fits the sample
    # both paths train bit-identical centroids
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = emb.select(F.col("vec_id").alias("c_id"),
                        F.col("embedding").alias("c_vec"))
    c_footer = train_ivf_centroids(corpus, "c_vec", 64, 22, "c_id",
                                   sample_vecs=sv)
    c_scan = train_ivf_centroids(corpus, "c_vec", 64, 22, "c_id")
    assert np.array_equal(c_footer, c_scan)

    sc = spark.sparkContext
    st = sc.statusTracker()
    with job_group(sc, "ivf-footer-build"):
        df = ann_ivf_top3(spark, "/root/testdata/sf0.001")
    # the only permissible jobs are spark.read.parquet's own 1-task
    # footer/schema reads — no sample scan, no TakeOrdered, no count
    _assert_footer_jobs_only(st, "ivf-footer-build")
    with job_group(sc, "ivf-footer-run"):
        assert df.count() > 0
    assert sc.getLocalProperty("spark.jobGroup.id") is None


def _assert_footer_jobs_only(st, group):
    """Every job in `group` is one of spark.read.parquet's own 1-task
    footer/schema reads."""
    for jid in st.getJobIdsForGroup(group):
        ji = st.getJobInfo(jid)
        for sid in (ji.stageIds if ji else []):
            si = st.getStageInfo(sid)
            assert si is None or (si.name.startswith("parquet at")
                                  and si.numTasks == 1), \
                f"{group} launched a data job: {si.name}"


def test_read_spread_widens_one_row_group_scan(spark):
    """A one-row-group table scans as one task, so _read_spread adds
    exactly one round-robin exchange to defaultParallelism; column
    pruning and the doc-subset filter still reach the scan below it, so
    the 300 filtered rows (not the whole table) are spread over every
    core, and building the DataFrame reads footers only."""
    import re
    from osm2garmin_spark.queries import _doc_subset

    sc = spark.sparkContext
    par = sc.defaultParallelism
    with job_group(sc, "read-spread-build"):
        df = _doc_subset(spark, SF).select("doc_id", "text")
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    _assert_footer_jobs_only(sc.statusTracker(), "read-spread-build")
    plan = _plan(df)
    assert len(set(re.findall(r"\((\d+)\) Exchange", plan))) == 1
    assert plan.count(f"RoundRobinPartitioning({par})") == 1
    tree = plan.split("\n\n")[0]
    assert tree.index("Exchange") < tree.index("Filter") < tree.index("Scan")
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert read.split("ReadSchema: ")[1] == "struct<doc_id:bigint,text:string>"
    pushed = next(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "LessThan(doc_id,300)" in pushed
    sizes = df.rdd.glom().map(len).collect()
    assert len(sizes) == par and sum(sizes) == 300 and min(sizes) > 0


def test_knn_grid_explodes_query_side(spark, monkeypatch):
    """knn_grid level 0 must explode the QUERY side to its 3x3 ring (the
    grid path only runs when the neighbor side is the big one, so the 9x
    explode belongs on the smaller side). localCheckpoint is no-opped so
    the pre-checkpoint plan stays inspectable."""
    from pyspark.sql.classic.dataframe import DataFrame
    from osm2garmin_spark.operators import knn as K

    monkeypatch.setattr(DataFrame, "localCheckpoint",
                        lambda self, eager=True: self)
    qs = spark.range(0, 50).select(
        F.col("id").alias("q_id"), (F.col("id") * 0.1).alias("q_lat"),
        (F.col("id") * 0.2).alias("q_lon"))
    ns = spark.range(0, 500).select(
        F.col("id").alias("n_id"), (F.col("id") * 0.01).alias("n_lat"),
        (F.col("id") * 0.02).alias("n_lon"))
    out = K.knn_grid(qs, ns, k=3, cell_deg=10.0)  # one ring covers all
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    lines = plan.splitlines()

    def indent(s):
        return len(s) - len(s.lstrip(" :+-"))

    subtrees = []
    for i, l in enumerate(lines):
        if "Generate explode" not in l:
            continue
        d = indent(l)
        sub = []
        for nxt in lines[i + 1:]:
            if indent(nxt) <= d:
                break
            sub.append(nxt)
        subtrees.append("\n".join(sub))
    assert subtrees, plan
    # every explode sits over the QUERY branch, never the neighbor scan
    assert all("q_lat" in s and "n_lat" not in s for s in subtrees), plan
    # and the operator still answers correctly under the no-op checkpoint
    rows = out.collect()
    assert {r["q_id"] for r in rows} == set(range(50))


def test_dedup_clusters_final_plan_is_truncated(spark):
    """The label-propagation fixpoint must not accumulate plan depth
    across rounds: every round localCheckpoints, so the RETURNED frame's
    plan is a checkpoint scan + projection — zero joins — no matter how
    many rounds ran (a 5-round chain here). Without truncation the plan
    embeds every prior round (exponential Catalyst analysis, the
    standard iterative-algorithm pitfall)."""
    from osm2garmin_spark.functions.dedup import dedup_clusters

    # a path graph 0-1-2-...-9 needs ~5 min-label rounds (diameter 9,
    # labels move one hop per round from the min end)
    ids = spark.range(0, 10).selectExpr("id AS doc_id")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "doc_a long, doc_b long")
    stats: dict = {}
    out = dedup_clusters(ids, pairs, stats=stats, method="minlabel")
    assert stats["rounds"] >= 4
    plan = _plan(out)
    assert "Join" not in plan, plan
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan, plan
    # and it converged to one component labeled by the min id
    rows = out.collect()
    assert {r["cluster_id"] for r in rows} == {0}
    # star method: the returned plan reads the CHECKPOINTED star edge
    # set (constant depth — none of the per-round joins leak into it);
    # the only join is the one bounded singleton anti-join against the
    # id universe, regardless of how many alternations ran
    import re
    s2: dict = {}
    out2 = dedup_clusters(ids, pairs, stats=s2, method="star")
    plan2 = _plan(out2)
    assert len(re.findall(r"\) [A-Za-z]*Join", plan2)) == 1, plan2
    assert "Scan ExistingRDD" in plan2 or "LocalTableScan" in plan2, plan2
    assert {r["cluster_id"] for r in out2.collect()} == {0}


def test_distributed_split_jobs_per_level_bounded(spark):
    """Round 5 fused the per-level colsum/rowsum actions into one
    explode+groupBy: each level runs ONE toPandas action (<= 3 Spark
    jobs under AQE: shuffle map + final + window-table broadcast).
    Guard the job budget so a regression back to per-axis actions
    (2x scans, 6 jobs/level measured at 20M rows) cannot slip in."""
    from osm2garmin_spark.expressions import derived_lat, derived_lon
    from osm2garmin_spark.geo.area import PLANET
    from osm2garmin_spark.split.density import density_cells, exact_bounds
    from osm2garmin_spark.split.distributed import split_area_distributed

    pts = spark.range(0, 30000).select(
        F.col("id").alias("event_id"),
        derived_lat(F.col("id")).alias("lat"),
        derived_lon(F.col("id")).alias("lon"))
    exact = exact_bounds(pts, "lat", "lon")
    cells = density_cells(pts, "lat", "lon", 11, PLANET).persist()
    cells.count()
    sc = spark.sparkContext
    n0 = len(sc.statusTracker().getJobIdsForGroup(None) or [])
    stats: dict = {}
    tiles = split_area_distributed(cells, exact, 11, 3000, bounds=PLANET,
                                   stats=stats)
    n1 = len(sc.statusTracker().getJobIdsForGroup(None) or [])
    cells.unpersist()
    assert tiles and stats["levels"] >= 3
    assert (n1 - n0) <= 3 * stats["levels"], (n1 - n0, stats["levels"])


def test_hex_cover_filter_is_broadcast_no_fact_shuffle(spark):
    """Index-covering selection: the covering joins as a broadcast on
    the fact table's own cell key — the fact side must reach the join
    without an Exchange (the partition-pruning shape, not a shuffle)."""
    from osm2garmin_spark.queries import hex_cover_filter

    plan = _plan(hex_cover_filter(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "Broadcast" in line, f"fact-side shuffle leaked in: {line}"


def test_knn_hex_explodes_query_side(spark, monkeypatch):
    """Hex k-ring kNN: the 7-cell flower explode must land on the QUERY
    side; the neighbor table is keyed by its single cell and never
    exploded. localCheckpoint is no-opped so the pre-checkpoint plan
    stays inspectable (the shipped plan truncates at every level)."""
    from pyspark.sql.classic.dataframe import DataFrame
    from osm2garmin_spark.operators import knn_hex as KH

    monkeypatch.setattr(DataFrame, "localCheckpoint",
                        lambda self, eager=True: self)
    qs = spark.range(0, 50).select(
        F.col("id").alias("q_id"), (F.col("id") * 0.1).alias("q_lat"),
        (F.col("id") * 0.2).alias("q_lon"))
    ns = spark.range(0, 500).select(
        F.col("id").alias("n_id"), (F.col("id") * 0.01).alias("n_lat"),
        (F.col("id") * 0.02).alias("n_lon"))
    out = KH.knn_hex_kring(qs, ns, k=3, res=0)   # one flower covers all
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    lines = plan.splitlines()

    def indent(s):
        return len(s) - len(s.lstrip(" :+-"))

    subtrees = []
    for i, l in enumerate(lines):
        if "Generate explode" not in l:
            continue
        d = indent(l)
        sub = []
        for nxt in lines[i + 1:]:
            if indent(nxt) <= d:
                break
            sub.append(nxt)
        subtrees.append("\n".join(sub))
    assert subtrees, plan
    assert all("q_lat" in s and "n_lat" not in s for s in subtrees), plan
    rows = out.collect()
    assert {r["q_id"] for r in rows} == set(range(50))


def test_pip_partitioned_shuffle_join_not_broadcast(spark):
    """Range-partitioned PIP: the premise is a polygon table too large to
    broadcast, so the cell equi-join must be a shuffled hash join — no
    Broadcast exchange anywhere, and no nested-loop fallback."""
    from osm2garmin_spark.expressions import derived_lat, derived_lon
    from osm2garmin_spark.operators.pip import pip_join_partitioned
    from osm2garmin_spark.queries import _REGION_POLYS

    pts = spark.range(0, 1000).select(
        F.col("id").alias("pid"),
        derived_lat(F.col("id")).alias("lat"),
        derived_lon(F.col("id")).alias("lon"))
    polys = spark.createDataFrame(
        [(pid, [v[0] for v in pv], [v[1] for v in pv])
         for pid, pv in _REGION_POLYS],
        "poly_id int, vlats array<double>, vlons array<double>")
    plan = _plan(pip_join_partitioned(pts, polys, cell_deg=10.0))
    assert "ShuffledHashJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_slippy_queries_are_pure_jvm(spark):
    """slippy_encode and tile_webcover must stay inside whole-stage
    codegen: no Python evaluation operator anywhere in the plan (the
    projection, quadkey interleave and cover enumeration are all
    Catalyst expressions)."""
    from osm2garmin_spark.queries import slippy_encode, tile_webcover

    for q in (slippy_encode, tile_webcover):
        plan = _plan(q(spark, SF))
        assert "ArrowEvalPython" not in plan
        assert "BatchEvalPython" not in plan
        assert "MapInPandas" not in plan
        # '* ' prefix = the operator runs inside whole-stage codegen
        assert "* Project" in plan


def test_range_join_right_side_keys_once_no_explode(spark):
    """The 9x ring explode must be on the LEFT (query) side only: the
    plan's Generate operators all sit under the left scan, and the right
    side reaches the join through exactly one projection of its cell
    key (no Generate)."""
    from osm2garmin_spark.operators.range_join import range_join_within

    a = spark.range(0, 100).select(
        F.col("id").alias("a_id"),
        derived_lat(F.col("id")).alias("lat"),
        derived_lon(F.col("id")).alias("lon"))
    b = spark.range(0, 100000).select(
        F.col("id").alias("b_id"),
        derived_lat(F.col("id")).alias("lat"),
        derived_lon(F.col("id")).alias("lon"))
    plan = _plan(range_join_within(a, b, 100.0))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # exactly the two left-side explodes (dx, dy) — nothing on the right
    import re
    gen_ids = set(re.findall(r"\((\d+)\) Generate", plan))
    assert len(gen_ids) == 2, plan
