"""Exact kNN, hex cell scheme: 7-cell flowers on the aperture-7 index.

The north-star names this operator shape explicitly: "kNN lookup via H3
k-ring expansion with a sort-merge refine". ``knn_hex_kring`` is the hex
cell scheme of the one escalation loop ``operators/knn.py::_knn_exact``
(same exactness contract as knn_grid, bit-identical results — pinned by
parity tests), built on ``geo/hex.py``:

- Level j runs at resolution res - j (negative res = coarser than the
  base lattice is well-defined — the basis matrix power just continues;
  apothem grows sqrt(7)x per level => O(log extent) levels). Each
  escalated query explodes to its k=1 grid disk (the 7-cell "flower":
  home cell + 6 ring-1 neighbors); neighbors are keyed by their own
  single cell — a plain equi-join on the packed cell key, so the
  candidate volume is 7x|queries| and the neighbor side is never
  exploded. The refine is the loop's sort-based per-query top-k (the
  "sort-merge refine": candidates arrive grouped by query from the join
  shuffle and are sorted once by (d^2, n_id)).
- Margin: cell centers at hex distance >= 2 from the home cell are
  >= 2*sqrt(3)*apothem away (lattice minimum, tight on even rings —
  pinned in tests/test_hex.py), a point is at most one circumradius from
  its center, and the query sits qdist from its home center; so every
  unexplored point is farther than ``2*sqrt(3)*a - R_c - qdist``.
- Coverage: from ANY query position the flower covers radius
  2*sqrt(3)*a - 2*R_c (= 2a/sqrt(3)); the level where that reaches the
  combined query+neighbor extent diagonal is exact outright.

vs knn_grid (square cells): the flower explodes 7 cells instead of 9
(22% fewer candidate rows at equal cell area), and the hex lattice's
isotropy makes the covered radius direction-independent — the square
ring's worst case is its diagonal. Reference analogue:
DefaultCityFinder.java:39-105 (sort + refine over candidate cities).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from ..geo import hex as hx
# knn_bruteforce_np: re-exported, the small-table kernel the loop
# dispatches to for both cell schemes
from .knn import Ring, _dist2, _knn_exact, knn_bruteforce_np  # noqa: F401

#: packing offset for (i, j) -> one 56-bit key; |i| at res 14 is ~7M,
#: well under 2^27
_KEY_OFF = 1 << 27
_KEY_SHIFT = 28
#: res bounds for the kNN lattice (packing-safe; negative = coarser
#: than the res-0 base lattice, used only by escalation)
MIN_RES, MAX_KNN_RES = -8, 14

_SQRT3 = math.sqrt(3.0)


def tune_res(n: int, lat0, lat1, lon0, lon1, k: int) -> int:
    """Pick the resolution whose 7-cell flower holds ~max(8k, 64)
    expected neighbors at the table's mean density: hex area is
    2*sqrt(3)*a^2, so a = sqrt(target / (14*sqrt(3)*density)), then
    res = round(log_sqrt7(S / 2a))."""
    if not n:
        return 5
    area = max((lat1 - lat0) * (lon1 - lon0), 1e-12)
    density = n / area
    target = max(8.0 * k, 64.0)
    a = math.sqrt(target / (14.0 * _SQRT3 * density))
    res = round(2.0 * math.log(hx.BASE_SCALE_DEG / (2.0 * a))
                / math.log(7.0))
    return max(MIN_RES, min(MAX_KNN_RES, res))


def _cell_cols(lat_col, lon_col, res: int):
    """(key, qdist-components): packed cell key plus the cell-center
    (x, y) in degrees for the margin computation — all pure JVM.

    The (i, j) -> key packing is injective only for |i|, |j| < 2^27;
    geographic coordinates stay under ~7M even at MAX_KNN_RES (10x
    headroom), but a garbage coordinate from an upstream unit bug could
    overflow the j field into i and collide with a VALID cell's key, so
    both axes clamp to the packing-safe range first.  Clamped rows are
    off-planet garbage whose own results carry no exactness contract;
    the clamp exists to keep them from polluting valid cells' keys."""
    i, j = hx.hex_ij_cols(lat_col, lon_col, res)
    lim = _KEY_OFF - 1
    i = F.greatest(F.lit(-lim), F.least(F.lit(lim), i))
    j = F.greatest(F.lit(-lim), F.least(F.lit(lim), j))
    key = (i + F.lit(_KEY_OFF)) * F.lit(1 << _KEY_SHIFT) \
        + (j + F.lit(_KEY_OFF))
    m = hx.basis(res)
    cx = i * F.lit(float(m[0, 0])) + j * F.lit(float(m[0, 1]))
    cy = i * F.lit(float(m[1, 0])) + j * F.lit(float(m[1, 1]))
    return i, j, key, cx, cy


#: the 7-cell flower: home + ring-1, as (di, dj) offsets
_FLOWER = [(0, 0), (1, 0), (0, -1), (1, -1), (-1, 1), (0, 1), (-1, 0)]


def knn_hex_kring(queries: DataFrame, neighbors: DataFrame, k: int,
                  res: int = None,
                  q_id: str = "q_id", q_lat: str = "q_lat",
                  q_lon: str = "q_lon", n_id: str = "n_id",
                  n_lat: str = "n_lat", n_lon: str = "n_lon") -> DataFrame:
    """Hex-k-ring exact kNN -> (q_id, n_id, rnk).  ``res=None``
    auto-tunes from neighbor density (tune_res) and dispatches small
    neighbor tables to the broadcast numpy kernel; an explicit ``res``
    forces the k-ring path (tests / forced-escalation benches).
    Queries with a NULL coordinate get no rows."""
    offs = F.array(*[F.struct(F.lit(di).alias("di"), F.lit(dj).alias("dj"))
                     for di, dj in _FLOWER])

    def ring(res0: int, level: int, escal: DataFrame) -> Ring:
        res_l = max(MIN_RES, min(MAX_KNN_RES, int(res0))) - level
        if res_l < MIN_RES - 24:
            raise RuntimeError("knn_hex_kring: escalation underflow")
        a = hx.apothem_deg(res_l)
        rc = hx.circumradius_deg(res_l)
        qi, qj, _, qcx, qcy = _cell_cols(F.col(q_lat), F.col(q_lon), res_l)
        qc = escal.select(
            q_id, q_lat, q_lon, qi.alias("_qi"), qj.alias("_qj"),
            qcx.alias("_cx"), qcy.alias("_cy"))
        # qdist: query offset from its home-cell center
        qdist = F.sqrt(_dist2(F.col(q_lat), F.col(q_lon),
                              F.col("_cy"), F.col("_cx")))
        q_exp = (qc.select(q_id, q_lat, q_lon, "_qi", "_qj",
                           (F.lit(2.0 * _SQRT3 * a - rc) - qdist)
                           .alias("_margin"),
                           F.explode(offs).alias("_o"))
                 .select(q_id, q_lat, q_lon, "_margin",
                         ((F.col("_qi") + F.col("_o.di") + F.lit(_KEY_OFF))
                          * F.lit(1 << _KEY_SHIFT)
                          + (F.col("_qj") + F.col("_o.dj")
                             + F.lit(_KEY_OFF))).alias("_hk")))
        _, _, nkey, _, _ = _cell_cols(F.col(n_lat), F.col(n_lon), res_l)
        nc = neighbors.select(n_id, n_lat, n_lon, nkey.alias("_hk"))
        covered = 2.0 * _SQRT3 * a - 2.0 * rc
        return Ring(q_exp, nc, ["_hk"],
                    lambda span_lat, span_lon:
                        covered >= math.hypot(span_lat, span_lon),
                    f"res={res_l}")

    return _knn_exact(
        "knn_hex_kring", queries, neighbors, k, res,
        lambda s: tune_res(s["n"], s["lat0"], s["lat1"], s["lon0"],
                           s["lon1"], k),
        ring, None, (q_id, q_lat, q_lon, n_id, n_lat, n_lon))
