"""Distance-within spatial range join (fixed-radius near-neighbor join).

``range_join_within(a, b, radius_km)`` returns every (a, b) pair whose
great-circle (haversine) distance is <= radius_km — the "all events
within R km of each customer" join. The reference's nearest-city search
is the kNN cousin (DefaultCityFinder.java:39-105, covered by
operators/knn.py); the fixed-radius variant is the missing join class a
geo pipeline needs for proximity filters, geofencing, and duplicate-site
detection.

Scale design (no cartesian product, ever):

1. **Latitude-banded grid blocking.** Both sides key to a lat/lon grid
   whose cell sizes are RIGOROUS sphere bounds, not small-angle
   approximations:

   - rows: ``cell_lat`` = degrees(R / R_EARTH) — the central angle is
     >= |dphi|, so d <= R implies |dlat| <= cell_lat exactly; row
     iy = floor((lat + 90) / cell_lat).
   - lon lattice PER ROW: from hav(d) >= cos(phi1)cos(phi2)
     sin^2(dlon/2), a pair within R whose b-point sits in row r has
     dlon <= W(r) = 2 asin(min(1, sin(R/2R_E) / mincos3(r))), where
     mincos3(r) is the least cos(lat) over rows r-1..r+1 clamped to the
     caller-supplied ``max_abs_lat`` (points past the cap raise; the
     poles degenerate under lon blocking, the documented limit of
     lat/lon grids — polar data wants the S2 index, geo/s2.py). Row r
     gets a UNIFORM ring of n_x(r) = max(1, floor(360 / W(r))) cells of
     width 360/n_x(r) >= W(r), indexed by
     ix = floor((lon + 180) * n_x(r) / 360) mod n_x(r). A fixed-width
     grid with ceil() would leave a narrower residual cell before the
     antimeridian seam, putting wrapped pairs 2 cells apart and silently
     dropping them; uniform widths keep any qualifying pair in the same
     or an adjacent cell of the b-point's row, around the whole circle.
     Rows where W(r) spans the globe collapse to one cell.
2. **Ring explode on the LEFT side only**: rows iy-1..iy+1 and, in each
   target row's own lattice, the <= 3 cells around the point's lon
   (<= 9 rows per left point — same discipline as operators/knn.py: the
   big right side keys once and shuffles once on the cell key, never
   explodes).
3. **Dateline wrap**: every lon cell index is taken modulo its row's
   ring width — lon = +180 lands in cell 0 with -180, and the last cell
   and cell 0 are adjacent; the haversine's sin(dlon/2) is periodic, so
   the refine needs no unwrapping.
4. **Equi-join on (cell_x, cell_y)** — hash-partitioned, AQE-skew-
   splittable — then cheap exact |dlat|/|dlon| pre-rejects and a
   COMPARISON-ONLY trig residual: per-ROW quantities (half-angle
   radians, cos lat) are projected onto each side BEFORE the join, so
   the per-pair work is two sin() calls plus multiply-adds compared
   against the precomputed constant sin^2(R / 2R_E) — asin/sqrt never
   run in the join hot path (they are monotone, so the comparison is
   exact), and the full distance is reconstructed only for survivors
   and only when ``dist_col`` asks for it. All literal double constants
   are shared with the SQL oracle twin so both engines evaluate the
   same IEEE tree.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

#: mean Earth radius, km (IUGG); shared literal with the SQL twin
R_EARTH = 6371.0088
DEG2RAD = 0.017453292519943295
#: exact in IEEE754 (divide by a power of two)
HALF_RAD = DEG2RAD / 2.0


def _cell_sizes_deg(radius_km: float, max_abs_lat: float):
    """(cell_lat_deg, cell_lon_deg): rigorous adjacency bounds (see
    module docstring). Raises when the lon grid degenerates (< 3 cells
    around the globe or polar cap blocking)."""
    if radius_km <= 0:
        raise ValueError(f"radius_km must be > 0, got {radius_km}")
    if not (0 <= max_abs_lat < 90.0):
        raise ValueError(f"max_abs_lat must be in [0, 90), got {max_abs_lat}")
    cell_lat = math.degrees(radius_km / R_EARTH)
    cos_cap = math.cos(math.radians(max_abs_lat))
    s = math.sin(radius_km / (2.0 * R_EARTH)) / cos_cap
    if s >= 1.0:
        raise ValueError(
            f"radius {radius_km} km spans all longitudes at lat "
            f"{max_abs_lat}: block on geo/s2.py cells instead")
    cell_lon = math.degrees(2.0 * math.asin(s))
    if 360.0 / cell_lon < 3.0:
        raise ValueError(
            f"lon grid has <3 cells at radius {radius_km} km / lat cap "
            f"{max_abs_lat}: block on geo/s2.py cells instead")
    return cell_lat, cell_lon


def hav_threshold(radius_km: float) -> float:
    """sin^2(R / 2R_E): hav(a, b) <= this  <=>  dist(a, b) <= radius_km
    (asin and sqrt are strictly increasing, so the comparison against
    the precomputed constant is exactly the distance comparison)."""
    return math.sin(radius_km / (2.0 * R_EARTH)) ** 2


def hav_pair(lath1: Column, lonh1: Column, coslat1: Column,
             lath2: Column, lonh2: Column, coslat2: Column) -> Column:
    """Haversine of the central angle from per-row projected quantities
    (half-angle radians + cos lat): exactly 2 transcendental ops per
    pair. sin^2 of the half-angle difference is periodic, so wrapped
    longitudes need no unwrapping."""
    return (F.pow(F.sin(lath2 - lath1), 2)
            + coslat1 * coslat2 * F.pow(F.sin(lonh2 - lonh1), 2))


def hav_to_km(hav: Column) -> Column:
    """Reconstruct the great-circle distance (km) from the haversine."""
    return F.lit(2.0 * R_EARTH) * F.asin(F.sqrt(F.least(hav, F.lit(1.0))))


def hav_pair_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """The identical haversine expression tree in ANSI SQL, inlined from
    degree columns (oracle twin of hav_pair over the projections)."""
    return (f"(POW(SIN(({lat2} * {HALF_RAD!r}) - ({lat1} * {HALF_RAD!r})), 2)"
            f" + COS({lat1} * {DEG2RAD!r}) * COS({lat2} * {DEG2RAD!r})"
            f" * POW(SIN(({lon2} * {HALF_RAD!r}) - ({lon1} * {HALF_RAD!r})), 2))")


def hav_to_km_sql(hav: str) -> str:
    return f"({2.0 * R_EARTH!r} * ASIN(SQRT(LEAST({hav}, 1.0))))"


def haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance (km) as a pure-JVM column expression
    (hav_pair over inline projections; twin of haversine_km_sql)."""
    return hav_to_km(hav_pair(
        lat1 * F.lit(HALF_RAD), lon1 * F.lit(HALF_RAD),
        F.cos(lat1 * F.lit(DEG2RAD)),
        lat2 * F.lit(HALF_RAD), lon2 * F.lit(HALF_RAD),
        F.cos(lat2 * F.lit(DEG2RAD))))


def haversine_km_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """The identical expression tree in ANSI SQL (oracle twin)."""
    return hav_to_km_sql(hav_pair_sql(lat1, lon1, lat2, lon2))


#: s2geometry kMinWidth derivative for the quadratic projection
#: (s2metrics.cc, public): the MINIMUM width of any level-L cell is
#: (2*sqrt(2)/3) * 2^-L radians — the worst case over all faces, so the
#: adjacency argument below needs no distortion slack.
S2_MIN_WIDTH_DERIV = 2.0 * math.sqrt(2.0) / 3.0


def _s2_level_for_radius(radius_km: float) -> int:
    """Finest S2 level whose minimum cell width >= the radius: two
    points within radius_km then cannot have a full cell between them,
    so their level-L cells are 8-neighborhood-adjacent (the blocked
    join enumerates a strict superset of that neighborhood)."""
    if radius_km <= 0:
        raise ValueError(f"radius_km must be > 0, got {radius_km}")
    r_rad = radius_km / R_EARTH
    if r_rad > S2_MIN_WIDTH_DERIV:
        raise ValueError(
            f"radius {radius_km} km exceeds the level-0 S2 cell width "
            f"(~{S2_MIN_WIDTH_DERIV * R_EARTH:.0f} km): an all-pairs "
            "join is the honest plan at that radius")
    return min(30, int(math.floor(math.log2(S2_MIN_WIDTH_DERIV / r_rad))))


#: per-row trig columns projected onto both sides before the join
_HELPERS = ["_lath", "_lonh", "_clat"]


def _trig() -> dict:
    """The _HELPERS of a row at degree columns lat/lon: half-angle
    radians and cos lat, so the per-pair residual is two sines."""
    lat, lon = F.col("lat"), F.col("lon")
    return {"_lath": lat * F.lit(HALF_RAD), "_lonh": lon * F.lit(HALF_RAD),
            "_clat": F.cos(lat * F.lit(DEG2RAD))}


def _b_renamed(b_cols: list, dup: set, keys: tuple = ()) -> list:
    """The right side's columns in place, with its columns that clash with
    the left side's and its _HELPERS renamed b_<name> (``keys`` pass
    through between the two), as one projection."""
    return ([F.col(c).alias(f"b_{c}") if c in dup else c for c in b_cols]
            + list(keys) + [F.col(c).alias(f"b_{c}") for c in _HELPERS])


def range_join_within(a: DataFrame, b: DataFrame, radius_km: float,
                      max_abs_lat: float = 85.1,
                      dist_col: str | None = None,
                      strategy: str = "auto") -> DataFrame:
    """All (a, b) pairs with haversine distance <= radius_km.

    ``a`` and ``b`` carry ``lat``/``lon`` double columns (degrees) plus
    any payload columns; output = a's columns + b's columns (+ the
    distance when ``dist_col`` names it). The LEFT side is exploded
    (9x grid ring / <=13 S2 cells) — pass the smaller table as ``a``.
    Rows with NULL or NaN coordinates get NULL cell keys and drop out
    of the inner join silently (NaN is excluded from the grid guard —
    Spark orders NaN above every double, so an unguarded
    abs(NaN) > cap would raise) — filter or impute upstream if such
    rows must be accounted for.

    ``strategy``:

    - ``"grid"`` — lat/lon grid blocking (module docstring). Finite
      rows with |lat| > max_abs_lat violate the blocking bound and
      raise at plan-build time via a raise_error guard column.
    - ``"s2"`` — S2-cell blocking (``geo/s2.py``): total over the whole
      sphere including the poles; no lat guard. Both sides key to
      their level-L cell where L is the finest level whose MINIMUM
      cell width >= radius (s2 kMinWidth metric), so qualifying pairs
      are always in 8-neighborhood-adjacent cells; the left side
      explodes onto the <=13-cell superset {cell} U edge-neighbors U
      their edge-neighbors (straight distance-2 included — covers the
      vertex neighbors without corner-case geometry at cube-face
      corners, where cells have only 3 vertex neighbors).
    - ``"auto"`` (default) — grid when the lon blocking is
      non-degenerate at max_abs_lat, else s2 (polar caps,
      max_abs_lat >= 90, or radius spanning all longitudes at the
      cap).
    """
    if strategy not in ("auto", "grid", "s2"):
        raise ValueError(f"unknown strategy {strategy!r} (auto|grid|s2)")
    if radius_km <= 0:
        raise ValueError(f"radius_km must be > 0, got {radius_km}")
    if strategy == "auto":
        try:
            _cell_sizes_deg(radius_km, max_abs_lat)
            strategy = "grid"
        except ValueError:
            strategy = "s2"
    if strategy == "s2":
        return _range_join_s2(a, b, radius_km, dist_col)
    cell_lat, cell_lon = _cell_sizes_deg(radius_km, max_abs_lat)
    hav_t = hav_threshold(radius_km)
    # LATITUDE-BANDED lon grid (round 7): one global cell_lon sized by the
    # polar cap made equatorial cells ~6x too wide at cap 85.1 (7.9 deg for
    # a 150 km radius whose true equatorial bound is ~1.35 deg), and the
    # candidate volume grows with the square of point density. Each lat
    # row r now gets its OWN uniform ring of n_x[r] cells, each 360/n_x[r]
    # wide, sized by the rigorous pair bound for that row: for a pair
    # within R with the b-point in row r, both |lat|s lie inside the
    # 3-row window rows r-1..r+1 (|dlat| <= cell_lat), so
    # cos(lat_a), cos(lat_b) >= mincos3(r) := min cos over the window
    # (clamped to the cap, beyond which the guard raises), and
    # hav >= cos(lat_a) cos(lat_b) sin^2(dlon/2) gives
    # dlon <= 2 asin(min(1, sin(R/2R_E) / mincos3(r))) =: W(r).
    # Cells of uniform width >= W(r) put any qualifying pair in the same
    # or an adjacent cell OF THE B-POINT'S ROW (mod n_x[r] for the seam —
    # same uniform-ring argument as before, now per row); rows where the
    # bound spans the globe collapse to a single cell (n_x = 1) instead
    # of degenerating the whole grid.
    s_half = math.sin(radius_km / (2.0 * R_EARTH))
    n_rows = int(math.ceil(180.0 / cell_lat))

    def _n_x_for_row(r: int) -> int:
        lo = max(-max_abs_lat, (r - 1) * cell_lat - 90.0)
        hi = min(max_abs_lat, (r + 2) * cell_lat - 90.0)
        if lo > hi:          # row entirely beyond the cap: no members
            return 1
        mincos3 = math.cos(math.radians(max(abs(lo), abs(hi))))
        if mincos3 <= 0.0 or s_half / mincos3 >= 1.0:
            return 1
        w = math.degrees(2.0 * math.asin(s_half / mincos3))
        return max(1, int(math.floor(360.0 / w)))

    # one parsed array literal: a lit() per row cost a py4j round trip
    # each, and constant folding makes both the same plan literal
    n_x = ", ".join(str(_n_x_for_row(r)) for r in range(n_rows))
    n_x_lit = F.expr(f"array({n_x})")
    row_clamped = F.greatest(F.least(F.col("_iy"), F.lit(n_rows - 1)),
                             F.lit(0))
    n_x_of_row = F.element_at(n_x_lit, (row_clamped + 1).cast("int"))

    def keyed(df: DataFrame, side: str) -> DataFrame:
        lat, lon = F.col("lat"), F.col("lon")
        finite = ~(F.isnan(lat) | F.isnan(lon))
        guard = F.when(
            finite & (F.abs(lat) > F.lit(max_abs_lat)),
            F.raise_error(F.lit(
                f"{side}.lat exceeds max_abs_lat={max_abs_lat}; raise the "
                f"cap or block on geo/s2.py cells"))).otherwise(F.lit(0))
        iy = F.floor((lat + F.lit(90.0)) / F.lit(cell_lat))
        return df.withColumns({
            "_iy": F.when(finite, (iy + guard).cast("long")), **_trig()})

    def ix() -> Column:
        # base cell in the row's own ring, wrapped: lon = +180.0 (or any
        # lon outside [-180, 180)) would otherwise index past the ring
        nx = n_x_of_row.cast("double")
        cell = F.floor((F.col("lon") + F.lit(180.0)) * nx / F.lit(360.0))
        return F.when(~F.isnan(F.col("lon")), F.pmod(cell, n_x_of_row))

    a_cols = list(a.columns)
    b_cols = list(b.columns)
    dup = set(a_cols) & set(b_cols)
    b_out = [f"b_{c}" if c in dup else c for c in b_cols]

    # right side: keyed once, its cell and the b_ renames in one projection
    bren = keyed(b, "b").select(*_b_renamed(b_cols, dup, ("_iy",)),
                                ix().alias("_ix"))

    # left side: rows iy-1 .. iy+1, and per target row the <=3 ring cells
    # of THAT row's lattice around the point's lon (array_distinct folds
    # the duplicates a 1- or 2-cell ring produces near the poles). _ix is
    # its own projection below the ring explode, so the row's ring width
    # is looked up once per row, not once per array element.
    ak = keyed(a, "a").select(
        "*", F.explode(F.expr("array(-1, 0, 1)")).alias("_dy"))
    ak = ak.select(*a_cols, (F.col("_iy") + F.col("_dy")).alias("_iy"),
                   *_HELPERS)
    ak = ak.select("*", ix().alias("_ix"))
    ak = ak.select("*", F.explode(F.array_distinct(F.array(
        F.pmod(F.col("_ix") - 1, n_x_of_row),
        F.col("_ix"),
        F.pmod(F.col("_ix") + 1, n_x_of_row)))).alias("_ixr"))
    ak = ak.select(*a_cols, "_iy", *_HELPERS, F.col("_ixr").alias("_ix"))

    blat = F.col("b_lat") if "lat" in dup else F.col("lat")
    blon = F.col("b_lon") if "lon" in dup else F.col("lon")

    joined = ak.join(bren, on=["_ix", "_iy"], how="inner")
    # exact cheap pre-rejects before the trig: the SAME bounds that sized
    # the cells (d <= R implies |dlat| <= cell_lat and wrapped |dlon| <=
    # cell_lon — rigorous, so nothing true is dropped). The 3x3 ring
    # admits candidates up to ~3 cells apart on each axis; these two
    # subtract/compare filters cut the trig evaluations to roughly the
    # inscribed window (~1/4 of candidates).
    dlat_ok = F.abs(blat - F.col("lat")) <= F.lit(cell_lat)
    dlon_raw = F.abs(blon - F.col("lon"))
    dlon_ok = F.least(dlon_raw, F.lit(360.0) - dlon_raw) <= F.lit(cell_lon)
    # comparison-only residual: 2 sines per pair vs the precomputed
    # constant; asin/sqrt only for survivors (and only if requested)
    hav = hav_pair(F.col("_lath"), F.col("_lonh"), F.col("_clat"),
                   F.col("b__lath"), F.col("b__lonh"), F.col("b__clat"))
    out = joined.filter(dlat_ok & dlon_ok & (hav <= F.lit(hav_t)))
    sel = a_cols + b_out
    if dist_col is not None:
        out = out.withColumn(dist_col, hav_to_km(hav))
        sel = sel + [dist_col]
    return out.select(*sel)


def _range_join_s2(a: DataFrame, b: DataFrame, radius_km: float,
                   dist_col: str | None) -> DataFrame:
    """S2-blocked variant: total over the sphere (poles included). Left
    side explodes onto its <=13-cell blocking superset; right side keys
    once to its level-L cell (geo/s2.py s2_cell_udf — NULL on NaN);
    equi-join on the cell id, then the same |dlat| pre-reject and
    comparison-only haversine residual as the grid path (the lon
    pre-reject is meaningless near the poles and is skipped)."""
    from ..geo.s2 import s2_cell_udf, s2_ring_udf

    level = _s2_level_for_radius(radius_km)
    cell_lat = math.degrees(radius_km / R_EARTH)
    hav_t = hav_threshold(radius_km)

    latlon = F.col("lat"), F.col("lon")
    ak = a.withColumns(_trig()).select(
        "*", F.explode(s2_ring_udf(level)(*latlon)).alias("_cell"))
    a_cols = list(a.columns)
    b_cols = list(b.columns)
    dup = set(a_cols) & set(b_cols)
    bren = b.withColumns(_trig()).select(
        *_b_renamed(b_cols, dup), s2_cell_udf(level)(*latlon).alias("_cell"))
    b_out = [f"b_{c}" if c in dup else c for c in b_cols]
    blat = F.col("b_lat") if "lat" in dup else F.col("lat")

    joined = ak.join(bren, on="_cell", how="inner")
    dlat_ok = F.abs(blat - F.col("lat")) <= F.lit(cell_lat)
    hav = hav_pair(F.col("_lath"), F.col("_lonh"), F.col("_clat"),
                   F.col("b__lath"), F.col("b__lonh"), F.col("b__clat"))
    out = joined.filter(dlat_ok & (hav <= F.lit(hav_t)))
    sel = a_cols + b_out
    if dist_col is not None:
        out = out.withColumn(dist_col, hav_to_km(hav))
        sel = sel + [dist_col]
    return out.select(*sel)
