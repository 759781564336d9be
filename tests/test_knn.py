"""kNN: grid-accelerated path must equal the exact broadcast path,
including the exact-boundary-tie case (ADVICE round 1, item 4)."""

import numpy as np
import pandas as pd
from conftest import job_group

from osm2garmin_spark.operators.knn import knn_broadcast, knn_grid


def test_grid_matches_broadcast_random(spark):
    rng = np.random.default_rng(7)
    q = pd.DataFrame({"q_id": np.arange(200),
                      "q_lat": rng.uniform(-10, 10, 200),
                      "q_lon": rng.uniform(-10, 10, 200)})
    nb = pd.DataFrame({"n_id": np.arange(500),
                       "n_lat": rng.uniform(-10, 10, 500),
                       "n_lon": rng.uniform(-10, 10, 500)})
    qd, nd = spark.createDataFrame(q), spark.createDataFrame(nb)
    got = sorted(map(tuple, knn_grid(qd, nd, 3, cell_deg=2.0).collect()))
    want = sorted(map(tuple, knn_broadcast(qd, nd, 3).collect()))
    assert got == want


def test_boundary_tie_escalates(spark):
    """Query (0.75, 0.5) with cell 1.0: guaranteed-covered radius is
    exactly 1.25. Neighbor 1 sits exactly ON the 3x3 block boundary at
    (2.0, 0.5) (outside the candidate ring, d^2 = 1.5625); neighbor 2 is
    inside the ring at (1.75, 1.25) with the SAME d^2. The k-th distance
    ties margin^2, so completeness must NOT be assumed: tie-break by n_id
    says neighbor 1 wins, which only the escalation path can see."""
    q = spark.createDataFrame(pd.DataFrame(
        {"q_id": [0], "q_lat": [0.75], "q_lon": [0.5]}))
    nb = spark.createDataFrame(pd.DataFrame(
        {"n_id": [1, 2], "n_lat": [2.0, 1.75], "n_lon": [0.5, 1.25]}))
    out = knn_grid(q, nb, 1, cell_deg=1.0).collect()
    assert len(out) == 1
    assert out[0]["n_id"] == 1


def test_knn_grid_empty_neighbors(spark):
    import pandas as pd
    q = spark.createDataFrame(pd.DataFrame(
        {"q_id": [0, 1], "q_lat": [0.0, 1.0], "q_lon": [0.0, 1.0]}))
    nb = spark.createDataFrame([], "n_id long, n_lat double, n_lon double")
    assert knn_grid(q, nb, 3).count() == 0


def test_knn_fewer_neighbors_than_k(spark):
    import pandas as pd
    q = spark.createDataFrame(pd.DataFrame(
        {"q_id": [0], "q_lat": [0.0], "q_lon": [0.0]}))
    nb = spark.createDataFrame(pd.DataFrame(
        {"n_id": [7, 8], "n_lat": [1.0, 2.0], "n_lon": [0.0, 0.0]}))
    out = sorted((r["n_id"], r["rnk"]) for r in knn_grid(q, nb, 5).collect())
    assert out == [(7, 1), (8, 2)]


def test_grid_escalation_never_collects_neighbors(spark, monkeypatch, caplog):
    """VERDICT r2 #1: the grid path (the both-sides-large case) must never
    materialize the neighbor table on the driver. Force the grid path with
    an explicit cell and a clustered layout where many queries escalate;
    knn_bruteforce_np (the collect-based kernel) must never be invoked, and
    results must still equal the exact broadcast path."""
    import logging
    import osm2garmin_spark.operators.knn as K

    def _boom(*a, **kw):
        raise AssertionError("grid escalation must not collect the "
                             "neighbor table (knn_bruteforce_np called)")
    monkeypatch.setattr(K, "knn_bruteforce_np", _boom)

    rng = np.random.default_rng(11)
    # neighbors clustered far from half the queries → those queries have
    # empty/insufficient rings at cell_deg=1 and must escalate several
    # levels before their ring reaches the cluster
    q = pd.DataFrame({"q_id": np.arange(120),
                      "q_lat": np.where(np.arange(120) < 60,
                                        rng.uniform(-1, 1, 120),
                                        rng.uniform(40, 42, 120)),
                      "q_lon": rng.uniform(-1, 1, 120)})
    nb = pd.DataFrame({"n_id": np.arange(300),
                       "n_lat": rng.uniform(-1, 1, 300),
                       "n_lon": rng.uniform(-1, 1, 300)})
    qd, nd = spark.createDataFrame(q), spark.createDataFrame(nb)
    with caplog.at_level(logging.INFO, logger="osm2garmin_spark.operators.knn"):
        got = sorted(map(tuple, K.knn_grid(qd, nd, 3, cell_deg=1.0).collect()))
    want = sorted(map(tuple, knn_broadcast(qd, nd, 3).collect()))
    assert got == want
    # escalation-round count is logged (VERDICT done-criterion)
    assert any("level" in r.message for r in caplog.records)


def test_grid_auto_small_neighbors_still_uses_bruteforce(spark, monkeypatch):
    """Auto dispatch keeps the guarded collect fast path for small tables."""
    import osm2garmin_spark.operators.knn as K
    calls = []
    orig = K.knn_bruteforce_np
    monkeypatch.setattr(K, "knn_bruteforce_np",
                        lambda *a, **kw: calls.append(1) or orig(*a, **kw))
    q = spark.createDataFrame(pd.DataFrame(
        {"q_id": [0, 1], "q_lat": [0.0, 1.0], "q_lon": [0.0, 1.0]}))
    nb = spark.createDataFrame(pd.DataFrame(
        {"n_id": [1, 2], "n_lat": [0.5, 2.0], "n_lon": [0.0, 1.0]}))
    out = K.knn_grid(q, nb, 1)
    assert out.count() == 2 and calls == [1]


def _metro_corpus(spark):
    """4000 neighbors uniform over 10x10 deg plus 4000 in a 1-deg metro
    at 100x the base density; 150 queries of each kind."""
    rng = np.random.default_rng(11)
    base = 4000
    nb = pd.DataFrame({
        "n_id": np.arange(2 * base),
        "n_lat": np.concatenate([rng.uniform(0, 10, base),
                                 rng.uniform(4.5, 5.5, base)]),
        "n_lon": np.concatenate([rng.uniform(0, 10, base),
                                 rng.uniform(4.5, 5.5, base)]),
    })
    q = pd.DataFrame({
        "q_id": np.arange(300),
        "q_lat": np.concatenate([rng.uniform(0, 10, 150),
                                 rng.uniform(4.5, 5.5, 150)]),
        "q_lon": np.concatenate([rng.uniform(0, 10, 150),
                                 rng.uniform(4.5, 5.5, 150)]),
    })
    return q, nb


def _strata(spark, plan, points):
    """plan.stratum_of at each (lat, lon) point, in order."""
    from pyspark.sql import functions as F
    df = spark.createDataFrame(
        [(i, float(lat), float(lon)) for i, (lat, lon) in enumerate(points)],
        "i long, lat double, lon double")
    rows = df.select("i", plan.stratum_of(F.col("lat"), F.col("lon"))
                     .alias("s")).collect()
    return np.array([r["s"] for r in sorted(rows)])


def test_stratified_matches_broadcast_and_cuts_candidates(spark):
    """VERDICT r3 #4: a metro cell at 100x the base density. Per-stratum
    cell sizing must (a) return bit-identical results to knn_broadcast
    (escalation keeps every stratum exact regardless of its cell) and
    (b) beat the single global tuned cell on level-0 candidate-pair
    volume — the global cell targets the AVERAGE density, so metro
    queries otherwise drag ~100x the target candidates into the join."""
    from osm2garmin_spark.operators.knn import (knn_grid_stratified,
                                                plan_strata, tune_cell_deg)

    q, nb = _metro_corpus(spark)
    qd, nd = spark.createDataFrame(q), spark.createDataFrame(nb)

    got = sorted(map(tuple, knn_grid_stratified(qd, nd, 3).collect()))
    want = sorted(map(tuple, knn_broadcast(qd, nd, 3).collect()))
    assert got == want

    # ---- level-0 candidate-pair volume: stratified vs one global cell ----
    def candidates(cells_per_query):
        tot = 0
        for cell, mask in cells_per_query:
            qx = np.floor(q["q_lat"].to_numpy()[mask] / cell)[:, None]
            qy = np.floor(q["q_lon"].to_numpy()[mask] / cell)[:, None]
            nx = np.floor(nb["n_lat"].to_numpy() / cell)[None, :]
            ny = np.floor(nb["n_lon"].to_numpy() / cell)[None, :]
            tot += int(((np.abs(qx - nx) <= 1)
                        & (np.abs(qy - ny) <= 1)).sum())
        return tot

    cell_global = tune_cell_deg(nd, 3)
    cand_global = candidates([(cell_global, np.ones(len(q), dtype=bool))])

    plan = plan_strata(nd, 3)
    q_stratum = _strata(spark, plan, zip(q["q_lat"], q["q_lon"]))
    cand_strat = candidates([(2.0 ** s, q_stratum == s)
                             for s in set(q_stratum.tolist())])

    # dense leaves must get smaller cells than sparse ones, and the total
    # join volume must drop by a real margin (~16x here)
    s_metro, s_sparse = _strata(spark, plan, [(5.0, 5.0), (1.0, 1.0)])
    assert s_metro < s_sparse, plan.leaves
    assert cand_strat < 0.6 * cand_global, (cand_strat, cand_global)


def test_stratified_leaf_corners_and_outside_queries_answered_once(spark):
    """Every query takes exactly one stratum: the first non-default leaf
    whose closed bounds hold it, else the default. Queries on every leaf
    corner (where closed bounds overlap) and outside every leaf get one
    answer set each, equal to knn_broadcast."""
    from osm2garmin_spark.geo.units import to_degrees
    from osm2garmin_spark.operators.knn import (knn_grid_stratified,
                                                plan_strata)

    _, nb = _metro_corpus(spark)
    nd = spark.createDataFrame(nb)
    plan = plan_strata(nd, 3)
    assert len({s for _, s in plan.leaves}) > 1, plan.leaves
    corners = sorted({(to_degrees(lat), to_degrees(lon))
                      for a, _ in plan.leaves
                      for lat in (a.min_lat, a.max_lat)
                      for lon in (a.min_long, a.max_long)})
    outside = [(-3.0, 4.0), (12.0, 12.0), (5.0, -2.0), (-1.0, -1.0)]
    pts = corners + outside
    qd = spark.createDataFrame(pd.DataFrame({
        "q_id": np.arange(len(pts)),
        "q_lat": [p[0] for p in pts], "q_lon": [p[1] for p in pts]}))
    got = sorted(map(tuple, knn_grid_stratified(qd, nd, 3).collect()))
    want = sorted(map(tuple, knn_broadcast(qd, nd, 3).collect()))
    assert got == want


def test_stratified_branches_inherit_job_group(spark):
    """The stratum branches run from driver threads; every job they
    launch stays in the caller's job group, so a job group set around
    the call tags (and cancelJobGroup reaches) all of them."""
    from osm2garmin_spark.operators.knn import knn_grid_stratified

    q, nb = _metro_corpus(spark)
    qd, nd = spark.createDataFrame(q), spark.createDataFrame(nb)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    with job_group(sc, "knn-stratified-group"):
        n = knn_grid_stratified(qd, nd, 3).count()
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    assert n == 3 * len(q)
    assert tracker.getJobIdsForGroup("knn-stratified-group")
    assert set(tracker.getJobIdsForGroup(None)) <= before


def test_stratified_skewed_single_cell_and_outside_queries(spark):
    """Nearly all neighbors in one 0.05-deg cell: queries in the hot
    cell, scattered ones and ones OUTSIDE the neighbor extent entirely
    must all be answered exactly."""
    from osm2garmin_spark.operators.knn import knn_grid_stratified

    rng = np.random.default_rng(31)
    nb = pd.DataFrame({
        "n_id": np.arange(2000),
        "n_lat": np.concatenate([rng.uniform(5.0, 5.05, 1990),
                                 rng.uniform(0, 10, 10)]),
        "n_lon": np.concatenate([rng.uniform(5.0, 5.05, 1990),
                                 rng.uniform(0, 10, 10)]),
    })
    q = pd.DataFrame({
        "q_id": np.arange(60),
        # 20 in the hot cell, 20 scattered, 20 OUTSIDE the extent
        "q_lat": np.concatenate([rng.uniform(5.0, 5.05, 20),
                                 rng.uniform(0, 10, 20),
                                 rng.uniform(14, 15, 20)]),
        "q_lon": np.concatenate([rng.uniform(5.0, 5.05, 20),
                                 rng.uniform(0, 10, 20),
                                 rng.uniform(-6, -5, 20)]),
    })
    qd, nd = spark.createDataFrame(q), spark.createDataFrame(nb)
    got = sorted(map(tuple, knn_grid_stratified(qd, nd, 3).collect()))
    want = sorted(map(tuple, knn_broadcast(qd, nd, 3).collect()))
    assert got == want


def test_plan_strata_spike_cell_gets_own_stratum(spark):
    """A 0.05-deg spike holding 1/3 of the mass inside 20x20 deg of
    uniform neighbors: the quadtree's leaves shrink onto the spike, so
    the spike's leaf gets a cell tuned to its own density — far below
    the default (uniform) stratum's cell; a coarse density model dilutes
    such a spike across its neighbors (measured 0.66 deg for a spike
    whose true density implies ~0.04 deg). Results stay bit-identical
    to broadcast."""
    from osm2garmin_spark.operators.knn import (knn_grid_stratified,
                                                plan_strata)

    rng = np.random.default_rng(17)
    nb = pd.DataFrame({
        "n_id": np.arange(12000),
        "n_lat": np.concatenate([rng.uniform(0, 20, 8000),
                                 10.0 + rng.uniform(0, 0.05, 4000)]),
        "n_lon": np.concatenate([rng.uniform(0, 20, 8000),
                                 10.0 + rng.uniform(0, 0.05, 4000)]),
    })
    nd = spark.createDataFrame(nb)
    plan = plan_strata(nd, 3)
    (spike,) = _strata(spark, plan, [(10.025, 10.025)])
    assert 2.0 ** spike < 0.2 * 2.0 ** plan.default, plan.leaves

    q = pd.DataFrame({
        "q_id": np.arange(200),
        "q_lat": np.concatenate([rng.uniform(0, 20, 100),
                                 10.0 + rng.uniform(-0.1, 0.15, 100)]),
        "q_lon": np.concatenate([rng.uniform(0, 20, 100),
                                 10.0 + rng.uniform(-0.1, 0.15, 100)]),
    })
    qd = spark.createDataFrame(q)
    got = sorted(map(tuple, knn_grid_stratified(qd, nd, 3).collect()))
    want = sorted(map(tuple, knn_broadcast(qd, nd, 3).collect()))
    assert got == want


def test_plan_strata_multi_spike_leaves(spark):
    """Twenty 0.05-deg hot boxes of 1000 points over 2000 uniform ones:
    every box lies in a leaf whose cell is tuned to the box's own
    ~400k pts/deg^2 density, not to a sparse-diluted region — a
    threshold over a coarse grid gave only some of them their own
    stratum. Results stay bit-identical to broadcast."""
    from osm2garmin_spark.operators.knn import (knn_grid_stratified,
                                                plan_strata)

    rng = np.random.default_rng(23)
    hot_lat, hot_lon = [], []
    centers = [(0.7 + 0.93 * i, 19.0 - 0.91 * i) for i in range(20)]
    for cy, cx in centers:
        hot_lat.append(cy + rng.uniform(0, 0.05, 1000))
        hot_lon.append(cx + rng.uniform(0, 0.05, 1000))
    nb = pd.DataFrame({
        "n_id": np.arange(22000),
        "n_lat": np.concatenate([rng.uniform(0, 20, 2000)] + hot_lat),
        "n_lon": np.concatenate([rng.uniform(0, 20, 2000)] + hot_lon),
    })
    nd = spark.createDataFrame(nb)
    plan = plan_strata(nd, 3)
    cells = 2.0 ** _strata(spark, plan,
                           [(cy + 0.025, cx + 0.025) for cy, cx in centers])
    assert (cells < 0.12).all(), (cells, plan.leaves)

    q = pd.DataFrame({
        "q_id": np.arange(150),
        "q_lat": np.concatenate([rng.uniform(0, 20, 50),
                                 centers[3][0] + rng.uniform(-0.1, 0.15, 50),
                                 centers[11][0] + rng.uniform(-0.1, 0.15, 50)]),
        "q_lon": np.concatenate([rng.uniform(0, 20, 50),
                                 centers[3][1] + rng.uniform(-0.1, 0.15, 50),
                                 centers[11][1] + rng.uniform(-0.1, 0.15, 50)]),
    })
    qd = spark.createDataFrame(q)
    got = sorted(map(tuple, knn_grid_stratified(qd, nd, 3).collect()))
    want = sorted(map(tuple, knn_broadcast(qd, nd, 3).collect()))
    assert got == want
