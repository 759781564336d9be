"""Independent numpy references and the order-insensitive output digest.

Every timed job is reduced to small summaries (a count plus a digest of
(key, key) pairs) and compared with the summaries computed here from the
collected inputs. Nothing in this module calls the engine: the references
re-derive the answers with plain numpy, so an engine bug cannot hide in
both sides of the comparison.

Digest of a multiset of pairs (a, b) of non-negative int64 ids:
``h = (a * DIGEST_A + b * DIGEST_B) mod DIGEST_P`` per pair, summarised as
(count, sum of h, xor of h). The constants keep every intermediate inside
int64 for ids below 2**32 and sums below 2**62, so Spark (ANSI overflow
checks on) and numpy compute the same integers.
"""

from __future__ import annotations

import math
from typing import Iterable, List, Optional, Sequence, Tuple

import numpy as np

DIGEST_A = 1_000_003
DIGEST_B = 7_919
DIGEST_P = 2_147_483_647

Digest = Tuple[int, int, int]

#: map units per full circle and the nudge of the engine's degree codec
#: (reference Utils.toMapUnit); re-stated here, not imported
FULL_CIRCLE = 16777216.0
NUDGE = 1e-6

#: haversine constants with the same literal values as the range join
R_EARTH_KM = 6371.0088
DEG2RAD = 0.017453292519943295
HALF_RAD = DEG2RAD / 2.0


def pair_hash(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    a = np.asarray(a, dtype=np.int64)
    b = np.asarray(b, dtype=np.int64)
    return (a * DIGEST_A + b * DIGEST_B) % DIGEST_P


def digest(h: np.ndarray) -> Digest:
    h = np.asarray(h, dtype=np.int64)
    x = int(np.bitwise_xor.reduce(h)) if len(h) else 0
    return (int(len(h)), int(h.sum()), x)


def combine(parts: Iterable[Digest]) -> Digest:
    n = s = x = 0
    for pn, ps, px in parts:
        n += pn
        s += ps
        x ^= px
    return (n, s, x)


def map_unit(deg: np.ndarray) -> np.ndarray:
    """Degrees to integer map units: nudge away from zero, scale, truncate."""
    deg = np.asarray(deg, dtype=np.float64)
    nudged = np.where(deg > 0, deg + NUDGE, deg - NUDGE)
    return np.trunc(nudged * FULL_CIRCLE / 360.0).astype(np.int64)


def tile_assignment_digest(ids: np.ndarray, lat_mu: np.ndarray,
                           lon_mu: np.ndarray, tiles: Sequence[tuple],
                           overlap: int) -> Digest:
    """Every (point, tile) pair whose point lies in the tile's bbox grown by
    ``overlap`` map units on each side, closed bounds.

    ``tiles``: (tile_id, min_lat, min_lon, max_lat, max_lon) in map units."""
    parts = []
    for tid, a0, o0, a1, o1 in tiles:
        inside = ((lat_mu >= a0 - overlap) & (lat_mu <= a1 + overlap)
                  & (lon_mu >= o0 - overlap) & (lon_mu <= o1 + overlap))
        parts.append(digest(pair_hash(ids[inside], tid)))
    return combine(parts)


def tile_problems(tiles: Sequence[tuple], lat_mu: np.ndarray,
                  lon_mu: np.ndarray, max_nodes: int, first_id: int,
                  cell: int) -> List[str]:
    """Properties every correct density split has, checked on the points:
    consecutive ids from ``first_id``; no two tiles overlap; every point
    lies within one density ``cell`` (map units) of a tile (the split rounds
    the data bbox to the cell grid, so a point on the rounded-off edge can
    miss the tiles by less than a cell); no tile holds more than
    ``max_nodes`` points (half-open bounds, as the density cells count
    them)."""
    problems = []
    ids = sorted(t[0] for t in tiles)
    if ids != list(range(first_id, first_id + len(tiles))):
        problems.append("tile ids are not consecutive from the first map id")
    for i, (ti, a0, o0, a1, o1) in enumerate(tiles):
        for tj, b0, p0, b1, p1 in tiles[i + 1:]:
            if a0 < b1 and b0 < a1 and o0 < p1 and p0 < o1:
                problems.append(f"tiles {ti} and {tj} overlap")
    covered = np.zeros(len(lat_mu), dtype=bool)
    for tid, a0, o0, a1, o1 in tiles:
        covered |= ((lat_mu >= a0 - cell) & (lat_mu <= a1 + cell)
                    & (lon_mu >= o0 - cell) & (lon_mu <= o1 + cell))
        held = int(np.count_nonzero((lat_mu >= a0) & (lat_mu < a1)
                                    & (lon_mu >= o0) & (lon_mu < o1)))
        if held > max_nodes:
            problems.append(f"tile {tid} holds {held} > {max_nodes} points")
    if not covered.all():
        problems.append(f"{int((~covered).sum())} points lie farther than "
                        "a cell from every tile")
    return problems


class TilingCheck:
    """Checks one workload's tile lists and assignment digests against the
    collected points. Results are kept per distinct tile list, since every
    job of a run should return the same one."""

    def __init__(self, ids, lat, lon, max_nodes: int, resolution: int,
                 overlap: int, first_id: int, twin: Optional[list] = None):
        self.ids = np.asarray(ids, dtype=np.int64)
        self.lat_mu = map_unit(lat)
        self.lon_mu = map_unit(lon)
        self.max_nodes, self.overlap, self.first_id = max_nodes, overlap, first_id
        self.cell = 1 << (24 - resolution)
        self.twin = twin
        self._seen = {}

    def problems(self, tiles: list, assign: Digest) -> List[str]:
        key = tuple(tiles)
        if key not in self._seen:
            self._seen[key] = (
                tile_problems(tiles, self.lat_mu, self.lon_mu, self.max_nodes,
                              self.first_id, self.cell),
                tile_assignment_digest(self.ids, self.lat_mu, self.lon_mu,
                                       tiles, self.overlap))
        found, expected = self._seen[key]
        out = list(found)
        if self.twin is not None and list(tiles) != list(self.twin):
            out.append("tiles differ from the distributed split")
        if tuple(assign) != expected:
            out.append(f"assignments {tuple(assign)} != {expected}")
        return out


def _hav(lat1, lon1, lat2, lon2) -> np.ndarray:
    return (np.sin(lat2 * HALF_RAD - lat1 * HALF_RAD) ** 2
            + np.cos(lat1 * DEG2RAD) * np.cos(lat2 * DEG2RAD)
            * np.sin(lon2 * HALF_RAD - lon1 * HALF_RAD) ** 2)


def range_pairs_digest(q_id, q_lat, q_lon, n_id, n_lat, n_lon,
                       radius_km: float, chunk: int = 2048) -> Digest:
    """All (q, n) pairs within ``radius_km`` great-circle distance.

    Latitude bands of height dlat = R / R_EARTH (degrees) hold the
    neighbours sorted by longitude. A query can only pair with neighbours
    in its own band and the two beside it, and only within a longitude
    window of 2 asin(sin(R / 2R_EARTH) / cos(|lat| + dlat)) around it
    (both latitudes are at most |lat| + dlat from the equator). Each
    window is a contiguous slice of the sorted order, found by binary
    search; the exact haversine comparison then filters the slices."""
    q_id = np.asarray(q_id, np.int64)
    n_id = np.asarray(n_id, np.int64)
    q_lat, q_lon = np.asarray(q_lat, float), np.asarray(q_lon, float)
    n_lat, n_lon = np.asarray(n_lat, float), np.asarray(n_lon, float)
    dlat = math.degrees(radius_km / R_EARTH_KM)
    s_half = math.sin(radius_km / (2.0 * R_EARTH_KM))
    thresh = s_half ** 2

    band = np.floor((n_lat + 90.0) / dlat).astype(np.int64)
    key = band * 1000.0 + (n_lon + 180.0)          # band-major, lon-minor
    order = np.argsort(key, kind="stable")
    key = key[order]
    n_id, n_lat, n_lon = n_id[order], n_lat[order], n_lon[order]

    q_band = np.floor((q_lat + 90.0) / dlat).astype(np.int64)
    cap = np.minimum(np.abs(q_lat) + dlat, 89.999)
    ratio = s_half / np.cos(np.radians(cap))
    width = np.where(ratio >= 1.0, 180.0,
                     np.degrees(2.0 * np.arcsin(np.minimum(ratio, 1.0))))
    # widen (a superset is safe) but never past half the circle, so the
    # half-open pieces of a wrapped window stay disjoint
    width = np.minimum(width * (1.0 + 1e-9) + 1e-9, 180.0)
    q_lon_s = q_lon + 180.0

    starts, stops, owners = [], [], []
    for db in (-1, 0, 1):
        base = (q_band + db) * 1000.0
        lo = q_lon_s - width
        hi = q_lon_s + width
        # the window may wrap the antimeridian: split it into half-open
        # pieces inside [0, 360)
        windows = [(np.maximum(lo, 0.0), np.minimum(hi, 360.0), np.ones_like(lo, bool)),
                   (lo + 360.0, np.full_like(lo, 360.0), lo < 0.0),
                   (np.zeros_like(hi), hi - 360.0, hi > 360.0)]
        for wlo, whi, use in windows:
            idx = np.nonzero(use)[0]
            starts.append(np.searchsorted(key, base[idx] + wlo[idx], "left"))
            stops.append(np.searchsorted(key, base[idx] + whi[idx], "left"))
            owners.append(idx)
    starts = np.concatenate(starts)
    stops = np.concatenate(stops)
    owners = np.concatenate(owners)

    parts = []
    for c in range(0, len(owners), chunk):
        s, e, o = starts[c:c + chunk], stops[c:c + chunk], owners[c:c + chunk]
        lens = np.maximum(e - s, 0)
        total = int(lens.sum())
        if total == 0:
            continue
        qi = np.repeat(o, lens)
        offs = np.arange(total) - np.repeat(np.cumsum(lens) - lens, lens)
        ni = np.repeat(s, lens) + offs
        hit = _hav(q_lat[qi], q_lon[qi], n_lat[ni], n_lon[ni]) <= thresh
        parts.append(digest(pair_hash(q_id[qi[hit]], n_id[ni[hit]])))
    return combine(parts)


def knn_rank_digest(q_id, n_id, rnk) -> Digest:
    """Digest of kNN rows (q, n, rank): the rank rides in the second key."""
    return digest(pair_hash(q_id, np.asarray(n_id, np.int64) * 8
                            + np.asarray(rnk, np.int64)))


def knn_digest(q_id, q_lat, q_lon, n_id, n_lat, n_lon, k: int,
               band_deg: float = 1.0) -> Digest:
    """Exact k nearest neighbours by squared degree distance, ties to the
    lower neighbour id, as (q, n, rank) rows.

    Neighbours sorted by latitude; a query's candidates are those within
    ``band_deg`` of its latitude. The candidates' k-th distance is final
    once it is below ``band_deg``: every neighbour outside the band is
    farther than that. Otherwise the band doubles."""
    n_id = np.asarray(n_id, np.int64)
    n_lat, n_lon = np.asarray(n_lat, float), np.asarray(n_lon, float)
    order = np.argsort(n_lat, kind="stable")
    n_id, n_lat, n_lon = n_id[order], n_lat[order], n_lon[order]
    rows_q, rows_n = [], []
    for qi, qa, qo in zip(np.asarray(q_id, np.int64), q_lat, q_lon):
        band = band_deg
        while True:
            lo = np.searchsorted(n_lat, qa - band, "left")
            hi = np.searchsorted(n_lat, qa + band, "right")
            dx = qa - n_lat[lo:hi]
            dy = qo - n_lon[lo:hi]
            d2 = dx * dx + dy * dy
            best = np.lexsort((n_id[lo:hi], d2))[:k]
            if (len(best) == k and d2[best[-1]] < band * band) or hi - lo == len(n_id):
                break
            band *= 2.0
        rows_q.append(np.full(len(best), qi))
        rows_n.append(n_id[lo:hi][best])
    ranks = [np.arange(1, len(r) + 1) for r in rows_n]
    return knn_rank_digest(np.concatenate(rows_q), np.concatenate(rows_n),
                           np.concatenate(ranks))
