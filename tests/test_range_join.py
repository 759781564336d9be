"""Fixed-radius near-neighbor join (operators/range_join.py):
brute-force parity, dateline wrap, rigorous-bound cell sizing, plan
shape (hash equi-join on cells, never cartesian), input guards."""

import math

import numpy as np
import pytest

from pyspark.sql import functions as F

from osm2garmin_spark.operators.range_join import (
    R_EARTH, _cell_sizes_deg, haversine_km, range_join_within,
)


def _hav_np(lat1, lon1, lat2, lon2):
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dp = np.radians(lat2 - lat1)
    dl = np.radians(lon2 - lon1)
    a = (np.sin(dp / 2) ** 2
         + np.cos(p1) * np.cos(p2) * np.sin(dl / 2) ** 2)
    return 2 * R_EARTH * np.arcsin(np.sqrt(np.minimum(a, 1.0)))


def _mkdf(spark, ids, lat, lon, idname):
    rows = [(int(i), float(la), float(lo)) for i, la, lo in zip(ids, lat, lon)]
    return spark.createDataFrame(rows, f"{idname} long, lat double, lon double")


def test_cell_sizes_are_rigorous_bounds():
    cell_lat, cell_lon = _cell_sizes_deg(150.0, 85.1)
    # lat: exactly degrees(R/R_E)
    assert cell_lat == pytest.approx(math.degrees(150.0 / R_EARTH))
    # lon: any pair within 150 km at |lat| <= 85.1 must differ by < cell_lon
    # (sample extremes near the cap)
    lat = np.full(1000, 85.1)
    dlon = np.linspace(0, cell_lon * 1.5, 1000)
    d = _hav_np(lat, np.zeros(1000), lat, dlon)
    assert (d[dlon > cell_lon] > 150.0).all()


def test_degenerate_grids_raise():
    with pytest.raises(ValueError, match="radius"):
        _cell_sizes_deg(0.0, 85.0)
    with pytest.raises(ValueError, match="s2"):
        _cell_sizes_deg(5000.0, 89.0)   # lon cells span the globe


def test_matches_brute_force(spark):
    rng = np.random.default_rng(17)
    na, nb = 150, 900
    alat = rng.uniform(-80, 80, na)
    alon = rng.uniform(-180, 180, na)
    blat = rng.uniform(-80, 80, nb)
    blon = rng.uniform(-180, 180, nb)
    r = 400.0
    a = _mkdf(spark, range(na), alat, alon, "a_id")
    b = _mkdf(spark, range(nb), blat, blon, "b_id")
    got = sorted((x["a_id"], x["b_id"]) for x in
                 range_join_within(a, b, r, max_abs_lat=80.5).collect())
    d = _hav_np(alat[:, None], alon[:, None], blat[None, :], blon[None, :])
    want = sorted((i, j) for i, j in zip(*np.nonzero(d <= r)))
    assert got == [(int(i), int(j)) for i, j in want]


def test_dateline_pairs_found(spark):
    a = _mkdf(spark, [0], [10.0], [179.95], "a_id")
    b = _mkdf(spark, [0, 1], [10.0, 10.0], [-179.95, 0.0], "b_id")
    got = range_join_within(a, b, 50.0, max_abs_lat=20.0).collect()
    assert [(r["a_id"], r["b_id"]) for r in got] == [(0, 0)]


def test_dateline_residual_cell_regression(spark):
    """ADVICE r5 repro: with ceil()-sized fixed-width cells the residual
    cell before the seam was narrower than cell_lon, so (10, 179.737)
    and (10, -179.99) — 20.2 km apart at radius 50 — landed 2 cells
    apart (mod n_x) and were dropped. The uniform ring (floor + scaled
    index) must find the pair."""
    a = _mkdf(spark, [0], [10.0], [179.737], "a_id")
    b = _mkdf(spark, [0], [10.0], [-179.99], "b_id")
    got = range_join_within(a, b, 50.0, max_abs_lat=20.0).collect()
    assert [(r["a_id"], r["b_id"]) for r in got] == [(0, 0)]


def test_lon_plus_180_wraps_to_cell_zero(spark):
    """ADVICE (i): lon = +180.0 is the -180.0 meridian. Its base lon cell
    floor(360 * n_x / 360) = n_x must wrap to cell 0; unwrapped, a +180.0
    b-point sat outside every ring and its pairs were dropped. All four
    pairs here are < 2 km apart."""
    a = _mkdf(spark, [0, 1], [10.0, 10.0], [179.99, 180.0], "a_id")
    b = _mkdf(spark, [0, 1], [10.0, 10.0], [180.0, -179.99], "b_id")
    got = sorted((r["a_id"], r["b_id"]) for r in
                 range_join_within(a, b, 150.0).collect())
    assert got == [(0, 0), (0, 1), (1, 0), (1, 1)]


def test_dateline_seam_sweep_matches_brute_force(spark):
    """Property sweep across the seam: points packed into the last few
    degrees on both sides of +-180 at several radii (several ring
    widths) — pair sets must equal the numpy brute force exactly."""
    rng = np.random.default_rng(23)
    n = 120
    lat = rng.uniform(5.0, 15.0, n)
    lon = np.where(rng.random(n) < 0.5,
                   rng.uniform(176.0, 180.0, n),
                   rng.uniform(-180.0, -176.0, n))
    a = _mkdf(spark, range(n), lat, lon, "a_id")
    b = _mkdf(spark, range(n), lat, lon, "b_id")
    for r in (25.0, 50.0, 150.0, 400.0):
        got = sorted((x["a_id"], x["b_id"]) for x in
                     range_join_within(a, b, r, max_abs_lat=20.0).collect())
        d = _hav_np(lat[:, None], lon[:, None], lat[None, :], lon[None, :])
        want = sorted((int(i), int(j)) for i, j in zip(*np.nonzero(d <= r)))
        assert got == want, r


def test_nan_rows_drop_out_silently(spark):
    """ADVICE r5: Spark orders NaN above every double, so an unguarded
    abs(NaN) > cap fired the raise_error guard and killed the job. NaN
    coordinates must instead get NULL keys and vanish from the inner
    join, exactly like NULLs; finite out-of-cap rows must still raise."""
    a = _mkdf(spark, [0, 1], [10.0, float("nan")], [10.0, 10.0], "a_id")
    b = _mkdf(spark, [0, 1], [10.1, 10.1], [10.1, float("nan")], "b_id")
    got = range_join_within(a, b, 50.0, max_abs_lat=20.0).collect()
    assert [(r["a_id"], r["b_id"]) for r in got] == [(0, 0)]
    bad = _mkdf(spark, [0], [89.0], [0.0], "a_id")
    with pytest.raises(Exception, match="max_abs_lat"):
        range_join_within(bad, b, 50.0, max_abs_lat=20.0).collect()


def test_distance_column_and_no_duplicates(spark):
    rng = np.random.default_rng(5)
    n = 120
    lat = rng.uniform(-30, 30, n)
    lon = rng.uniform(-40, 40, n)
    a = _mkdf(spark, range(n), lat, lon, "a_id")
    b = _mkdf(spark, range(n), lat, lon, "b_id")
    out = range_join_within(a, b, 300.0, max_abs_lat=35.0,
                            dist_col="dist_km").collect()
    pairs = [(r["a_id"], r["b_id"]) for r in out]
    assert len(pairs) == len(set(pairs))           # each pair exactly once
    # self pairs present at distance 0
    selfs = [r for r in out if r["a_id"] == r["b_id"]]
    assert len(selfs) == n and all(r["dist_km"] == 0.0 for r in selfs)
    # reported distance equals the numpy haversine
    for r in out[:50]:
        want = _hav_np(lat[r["a_id"]], lon[r["a_id"]],
                       lat[r["b_id"]], lon[r["b_id"]])
        assert r["dist_km"] == pytest.approx(float(want), rel=1e-12)


def test_polar_input_raises(spark):
    a = _mkdf(spark, [0], [89.0], [0.0], "a_id")
    b = _mkdf(spark, [0], [10.0], [0.0], "b_id")
    with pytest.raises(Exception, match="max_abs_lat"):
        range_join_within(a, b, 50.0, max_abs_lat=80.0).collect()


def test_plan_is_hash_equi_join_no_cartesian(spark):
    rng = np.random.default_rng(9)
    n = 200
    a = _mkdf(spark, range(n), rng.uniform(-60, 60, n),
              rng.uniform(-180, 180, n), "a_id")
    b = _mkdf(spark, range(n), rng.uniform(-60, 60, n),
              rng.uniform(-180, 180, n), "b_id")
    plan = range_join_within(a, b, 200.0)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan and "_ix" in plan

def test_radius_bounded_knn_semantics(spark):
    """Geofenced kNN: per-query ranks are 1..min(k, in-range count) and a
    query with nothing in range is absent (no escalation)."""
    from pyspark.sql import Window

    rng = np.random.default_rng(3)
    # one isolated query far from every neighbor
    alat = np.append(rng.uniform(-20, 20, 30), 60.0)
    alon = np.append(rng.uniform(-20, 20, 30), 150.0)
    blat = rng.uniform(-20, 20, 300)
    blon = rng.uniform(-20, 20, 300)
    a = _mkdf(spark, range(31), alat, alon, "a_id")
    b = _mkdf(spark, range(300), blat, blon, "b_id")
    r = 500.0
    pairs = range_join_within(a, b, r, max_abs_lat=61.0, dist_col="d")
    w = Window.partitionBy("a_id").orderBy(F.col("d").asc(), F.col("b_id").asc())
    out = pairs.withColumn("rnk", F.row_number().over(w)) \
        .filter(F.col("rnk") <= 3).collect()
    got = {}
    for row in out:
        got.setdefault(row["a_id"], []).append((row["rnk"], row["b_id"], row["d"]))
    assert 30 not in got                      # isolated query: no rows
    d = _hav_np(alat[:30, None], alon[:30, None], blat[None, :], blon[None, :])
    for q, rows in got.items():
        rows.sort()
        assert [r_[0] for r_ in rows] == list(range(1, len(rows) + 1))
        in_range = np.nonzero(d[q] <= r)[0]
        order = in_range[np.lexsort((in_range, d[q][in_range]))]
        want = [int(i) for i in order[:3]]
        assert [r_[1] for r_ in rows] == want, q


def test_s2_strategy_polar_matches_brute_force(spark):
    """VERDICT r5 #5: the S2-blocked variant must be TOTAL over the
    sphere — pairs at lat 88-90 (where lat/lon grids degenerate) must
    match the numpy brute force exactly."""
    rng = np.random.default_rng(41)
    n = 150
    lat = rng.uniform(84.0, 90.0, n)
    lon = rng.uniform(-180.0, 180.0, n)
    # a few exact-pole and near-pole points exercise the face-2 cap
    lat[:3] = [90.0, 89.999, 88.0]
    a = _mkdf(spark, range(n), lat, lon, "a_id")
    b = _mkdf(spark, range(n), lat, lon, "b_id")
    for r in (40.0, 150.0):
        got = sorted((x["a_id"], x["b_id"]) for x in range_join_within(
            a, b, r, max_abs_lat=90.0, strategy="s2").collect())
        d = _hav_np(lat[:, None], lon[:, None], lat[None, :], lon[None, :])
        want = sorted((int(i), int(j)) for i, j in zip(*np.nonzero(d <= r)))
        assert got == want, r


def test_s2_strategy_global_matches_brute_force(spark):
    """S2 blocking must also be exact away from the poles (cube-face
    corners/edges included): global random points incl. the dateline."""
    rng = np.random.default_rng(7)
    na, nb = 120, 600
    alat = rng.uniform(-89.0, 89.0, na)
    alon = rng.uniform(-180.0, 180.0, na)
    blat = rng.uniform(-89.0, 89.0, nb)
    blon = rng.uniform(-180.0, 180.0, nb)
    # face-corner neighborhood (lat 45, lon 45) and dateline seam
    alat[:2] = [45.0, 10.0]
    alon[:2] = [45.0, 179.9]
    blat[:2] = [45.2, 10.0]
    blon[:2] = [45.2, -179.9]
    a = _mkdf(spark, range(na), alat, alon, "a_id")
    b = _mkdf(spark, range(nb), blat, blon, "b_id")
    r = 400.0
    got = sorted((x["a_id"], x["b_id"]) for x in range_join_within(
        a, b, r, strategy="s2", dist_col="d").collect())
    d = _hav_np(alat[:, None], alon[:, None], blat[None, :], blon[None, :])
    want = sorted((int(i), int(j)) for i, j in zip(*np.nonzero(d <= r)))
    assert got == want


def test_auto_dispatch_grid_vs_s2(spark):
    """auto must pick the grid while the lon blocking is sound and fall
    back to S2 when it degenerates (max_abs_lat >= 90, polar caps, or
    radius spanning all longitudes at the cap) — same results."""
    from osm2garmin_spark.operators.range_join import _s2_level_for_radius

    a = _mkdf(spark, [0], [89.9], [10.0], "a_id")
    b = _mkdf(spark, [0, 1], [89.95, -20.0], [170.0, 10.0], "b_id")
    # across the pole: colatitudes 0.1/0.05 deg at lon diff 160 deg are
    # ~16 km apart even though the lon delta spans half the globe
    got = range_join_within(a, b, 50.0, max_abs_lat=90.0).collect()
    assert [(r["a_id"], r["b_id"]) for r in got] == [(0, 0)]
    # grid would raise on these latitudes; s2 was dispatched instead
    with pytest.raises(Exception, match="max_abs_lat"):
        range_join_within(a, b, 50.0, max_abs_lat=85.0,
                          strategy="grid").collect()
    # level sizing: min cell width at the chosen level covers the radius
    for r_km in (1.0, 25.0, 400.0, 5000.0):
        lvl = _s2_level_for_radius(r_km)
        min_width_km = (2 * math.sqrt(2) / 3) * 2.0 ** -lvl * R_EARTH
        assert min_width_km >= r_km
        if lvl < 30:
            assert min_width_km / 2 < r_km   # finest such level
    with pytest.raises(ValueError, match="all-pairs"):
        _s2_level_for_radius(7000.0)


def test_s2_strategy_nan_rows_drop(spark):
    a = _mkdf(spark, [0, 1], [89.0, float("nan")], [0.0, 5.0], "a_id")
    b = _mkdf(spark, [0, 1], [89.05, 89.0], [0.0, float("nan")], "b_id")
    got = range_join_within(a, b, 30.0, strategy="s2").collect()
    assert [(r["a_id"], r["b_id"]) for r in got] == [(0, 0)]
