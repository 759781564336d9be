"""The benchmark's output checks: each reference agrees with a brute force
on small inputs, and a corrupted output is rejected.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import math

import numpy as np

from reference import (TilingCheck, digest, knn_digest, knn_rank_digest,
                       map_unit, pair_hash, range_pairs_digest,
                       tile_assignment_digest)

RES = 13
CELL = 1 << (24 - RES)
FIRST = 63240001


def _points(n=4000, seed=0):
    rng = np.random.default_rng(seed)
    return (np.arange(n, dtype=np.int64) + 10,
            rng.uniform(10.0, 20.0, n), rng.uniform(-5.0, 5.0, n))


def _grid_tiles(lat, lon):
    """2 x 2 cell-aligned tiles covering the points."""
    a0 = (int(map_unit(lat).min()) // CELL) * CELL
    o0 = (int(map_unit(lon).min()) // CELL) * CELL
    a2 = (int(map_unit(lat).max()) // CELL + 1) * CELL
    o2 = (int(map_unit(lon).max()) // CELL + 1) * CELL
    a1 = ((a0 + a2) // 2 // CELL) * CELL
    o1 = ((o0 + o2) // 2 // CELL) * CELL
    boxes = [(a0, o0, a1, o1), (a0, o1, a1, o2), (a1, o0, a2, o1), (a1, o1, a2, o2)]
    return [(FIRST + i, *b) for i, b in enumerate(boxes)]


def _check(ids, lat, lon, twin=None):
    return TilingCheck(ids, lat, lon, max_nodes=len(ids), resolution=RES,
                       overlap=2000, first_id=FIRST, twin=twin)


def test_tiling_check_accepts_a_correct_split():
    ids, lat, lon = _points()
    tiles = _grid_tiles(lat, lon)
    assign = tile_assignment_digest(ids, map_unit(lat), map_unit(lon), tiles, 2000)
    assert assign[0] > len(ids)              # the overlap duplicates some points
    assert _check(ids, lat, lon, twin=tiles).problems(tiles, assign) == []


def test_tiling_check_rejects_a_dropped_tile():
    ids, lat, lon = _points()
    tiles = _grid_tiles(lat, lon)
    dropped = tiles[:3]
    assign = tile_assignment_digest(ids, map_unit(lat), map_unit(lon), dropped, 2000)
    problems = _check(ids, lat, lon).problems(dropped, assign)
    assert any("farther than a cell" in p for p in problems)
    assert _check(ids, lat, lon, twin=tiles).problems(dropped, assign)


def test_tiling_check_rejects_overlap_and_overfull_tiles():
    ids, lat, lon = _points()
    tiles = _grid_tiles(lat, lon)
    t0 = tiles[0]
    grown = [(t0[0], t0[1], t0[2], t0[3] + CELL, t0[4])] + tiles[1:]
    assign = tile_assignment_digest(ids, map_unit(lat), map_unit(lon), grown, 2000)
    assert any("overlap" in p for p in _check(ids, lat, lon).problems(grown, assign))
    small = TilingCheck(ids, lat, lon, max_nodes=10, resolution=RES,
                        overlap=2000, first_id=FIRST)
    good = tile_assignment_digest(ids, map_unit(lat), map_unit(lon), tiles, 2000)
    assert any("holds" in p for p in small.problems(tiles, good))


def test_tiling_check_rejects_a_lost_assignment():
    ids, lat, lon = _points()
    tiles = _grid_tiles(lat, lon)
    n, s, x = tile_assignment_digest(ids, map_unit(lat), map_unit(lon), tiles, 2000)
    h = int(pair_hash(np.array([ids[0]]), np.array([FIRST]))[0])
    lost = (n - 1, s - h, x ^ h)
    assert _check(ids, lat, lon).problems(tiles, lost)


def _haversine_km(lat1, lon1, lat2, lon2):
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dp, dl = p2 - p1, math.radians(lon2 - lon1)
    a = math.sin(dp / 2) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2
    return 2 * 6371.0088 * math.asin(math.sqrt(min(a, 1.0)))


def test_range_pairs_match_all_pairs_including_the_antimeridian():
    rng = np.random.default_rng(1)
    nq, nn = 150, 1500
    q_lat, n_lat = rng.uniform(-80, 80, nq), rng.uniform(-80, 80, nn)
    q_lon, n_lon = rng.uniform(-180, 180, nq), rng.uniform(-180, 180, nn)
    q_lon[:20], n_lon[:200] = 179.9, -179.9             # pairs across the seam
    q_id, n_id = np.arange(nq) + 1, np.arange(nn) + 10_000
    radius = 900.0
    pairs = [(q_id[i], n_id[j]) for i in range(nq) for j in range(nn)
             if _haversine_km(q_lat[i], q_lon[i], n_lat[j], n_lon[j]) <= radius]
    a, b = np.array(pairs).T
    want = digest(pair_hash(a, b))
    got = range_pairs_digest(q_id, q_lat, q_lon, n_id, n_lat, n_lon, radius)
    assert want[0] > 100 and got == want


def test_knn_matches_a_full_sort_with_id_ties():
    rng = np.random.default_rng(2)
    n_lat = np.round(rng.uniform(-60, 60, 3000), 1)     # rounding makes ties
    n_lon = np.round(rng.uniform(-170, 170, 3000), 1)
    n_id = rng.permutation(3000) + 5
    q_lat, q_lon = rng.uniform(-60, 60, 40), rng.uniform(-170, 170, 40)
    q_id = np.arange(40)
    rows = []
    for qi, qa, qo in zip(q_id, q_lat, q_lon):
        d2 = (qa - n_lat) ** 2 + (qo - n_lon) ** 2
        for r, j in enumerate(np.lexsort((n_id, d2))[:3]):
            rows.append((qi, n_id[j], r + 1))
    a, b, r = np.array(rows).T
    assert knn_digest(q_id, q_lat, q_lon, n_id, n_lat, n_lon, 3, band_deg=0.5) \
        == knn_rank_digest(a, b, r)
