"""Weighted-median quadtree split (reference splitter pass 1, split).

This is the analytics core of the reference's splitter pass 1, ported
integer-exact so tile boundaries reproduce bit-for-bit. There is ONE split
algorithm, ``split_levels``: a level-synchronous walk of the quadtree that
needs, for every node, seven integers over the cells inside its window
(``Stats``): the count n, Σx·cnt, Σy·cnt and the occupied x/y extent.
Two aggregators supply them:

- ``KeyIndex`` (driver, ``split_area``): the occupied-cell table the
  density scan returns, sorted by its x-major key x·height + y, with
  running counts and running y·counts. A window's stats cost O(w·log n)
  by binary search, and no dense grid is ever built, so driver memory
  follows the occupied cells, not the grid (at resolution 13 the planet
  grid has 31.7M cells, of which a typical corpus occupies a few percent).
- ``split.distributed`` (Spark): one aggregation job per tree level, for
  cell tables too big to collect.

The direct port of the reference recursion is kept as the oracle the
tests compare ``split_levels`` against:

- ``DensityGrid``            ≙ DensityMap.java:24-220 (subset, trim, cell codec)
- ``SplittableDensityArea``  ≙ SplittableDensityArea.java:27-196 (split
                               recursion, aspect ratio, weighted-mean split
                               point, 3/5-quantile clamp, even-parity split,
                               interleave+reverse result mixing)

Why seven integers per node suffice (relied on by ``split_levels``):
- a node's content is the global cell table restricted to its final
  bounds: a child's window ⊆ its parent's final bounds ⊆ ... ⊆ the density
  grid, so no clip chain is needed.
- trim shaves empty border rows/columns, so the trimmed extent is the
  occupied x/y extent. The split point is the weighted mean of the column
  (or row) sums measured from the bounds' edge, Σ(x − x0)·cnt / n =
  (Σx·cnt − x0·n) / n, so the sums themselves are never needed.
- when the rounded bounds cover the occupied extent and stay inside the
  window, the window's stats ARE the bounds' stats: the cells between
  them are empty. Every node's window has cell-aligned edges and even
  cell dimensions (rounding forces even dims; split midpoints are even),
  so RoundingUtils.round's parity push cannot leave the window, and this
  is the rule.
- the two exceptions are read again over the final bounds, one more
  aggregation that level: the ±85° clamp can cut the bottom or top cell
  row off an occupied extent, and the root window (the density grid ∩ the
  rounded exact bbox) may have odd dims, so its parity push can overhang.

Java-semantics notes (SURVEY.md §7.3 "what's hard"):
- ``int`` casts truncate toward zero (np.trunc / int()).
- ``>>>`` handled by geo.units.round_* helpers.
- ``(int)(weightedSum / sum)`` is long division of non-negatives → ``//``.
- aspect ratio uses cos of the *rounded* bounds' min/max latitude.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Callable, List, Optional, Sequence, Tuple

import numpy as np

from ..geo.area import Area, EMPTY_AREA, round_area
from ..geo.units import to_degrees, to_map_unit

#: a node window in cell coordinates of the density grid: (x0, x1, y0, y1),
#: half-open on both axes
Window = Tuple[int, int, int, int]
#: a window's cell-count stats (n, Σx·cnt, Σy·cnt, x_lo, x_hi, y_lo, y_hi):
#: extents inclusive, all in cell coordinates; None for an empty window
Stats = Optional[Tuple[int, int, int, int, int, int, int]]


class DensityGrid:
    """2D histogram of node counts over a rounded area.

    Indexing is [x][y] like the reference (x = longitude cell, y = latitude
    cell); shift = 24 - resolution (DensityMap.java:37-45).

    Built from an occupied-cell table (``keys=(keys, counts)``: unique
    x-major keys x·height + y in ascending order, as the density scan
    returns them), the grid keeps only that table and ``grid`` builds the
    dense array the first time it is read. From then on the dense array is
    the histogram, so callers may write to it.
    """

    def __init__(self, area: Area, trim: bool, resolution: int,
                 counts: Optional[np.ndarray] = None,
                 keys: Optional[Tuple[np.ndarray, np.ndarray]] = None):
        assert 1 <= resolution <= 24
        self.shift = 24 - resolution
        self.trim_enabled = trim
        self._keys = None
        if area is EMPTY_AREA or (area.width == 0 or area.height == 0):
            self.bounds = EMPTY_AREA
            self.width = 0
            self.height = 0
            self._grid = np.zeros((0, 0), dtype=np.int64)
            self.total = 0
            return
        self.bounds = round_area(area, resolution)
        self.height = self.bounds.height >> self.shift
        self.width = self.bounds.width >> self.shift
        if keys is not None:
            self._grid = None
            self._keys = keys
            self.total = int(keys[1].sum())
            return
        if counts is None:
            self._grid = np.zeros((self.width, self.height), dtype=np.int64)
        else:
            assert counts.shape == (self.width, self.height)
            self._grid = counts
        self.total = int(self._grid.sum())

    @property
    def grid(self) -> np.ndarray:
        if self._grid is None:
            keys, cnts = self._keys
            self._grid = np.zeros((self.width, self.height), dtype=np.int64)
            # C order: the flat index of [x, y] is the key x·height + y
            self._grid.reshape(-1)[keys] = cnts
            self._keys = None
        return self._grid

    def packed(self) -> Tuple[np.ndarray, np.ndarray]:
        """The occupied cells as (ascending keys x·height + y, counts)."""
        if self._keys is not None:
            return self._keys
        keys = np.flatnonzero(self._grid)
        return keys, self._grid.reshape(-1)[keys]

    def cells(self) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
        """The occupied cells as (xs, ys, counts) int64 arrays."""
        keys, cnts = self.packed()
        return keys // self.height, keys % self.height, cnts

    # --- cell codecs (DensityMap.java:203-219) -------------------------
    def lon_to_x(self, lon: int) -> int:
        return (lon - self.bounds.min_long) >> self.shift

    def lat_to_y(self, lat: int) -> int:
        return (lat - self.bounds.min_lat) >> self.shift

    def x_to_lon(self, x: int) -> int:
        return (x << self.shift) + self.bounds.min_long

    def y_to_lat(self, y: int) -> int:
        return (y << self.shift) + self.bounds.min_lat

    def node_count(self) -> int:
        return self.total

    # --- subset + trim (DensityMap.java:88-179) -------------------------
    def subset(self, sub: Area) -> "DensityGrid":
        resolution = 24 - self.shift
        min_lat = max(self.bounds.min_lat, sub.min_lat)
        min_lon = max(self.bounds.min_long, sub.min_long)
        max_lat = min(self.bounds.max_lat, sub.max_lat)
        max_lon = min(self.bounds.max_long, sub.max_long)
        if min_lat > max_lat or min_lon > max_lon:
            return DensityGrid(EMPTY_AREA, self.trim_enabled, resolution)

        sub = Area(min_lat, min_lon, max_lat, max_lon)
        if self.trim_enabled:
            sub = self._trim(sub)
        if sub is EMPTY_AREA or sub.width == 0 or sub.height == 0:
            return DensityGrid(EMPTY_AREA, self.trim_enabled, resolution)

        start_x = self.lon_to_x(sub.min_long)
        start_y = self.lat_to_y(sub.min_lat)
        # window extent from the (possibly unaligned) subset area like the
        # reference's arraycopy loop (DensityMap.java:119-135); clamp to the
        # rounded result dims for safety
        bounds = round_area(sub, resolution)
        width = bounds.width >> self.shift
        height = bounds.height >> self.shift
        max_x = min(sub.width >> self.shift, width)
        max_y = min(sub.height >> self.shift, height)
        # a trimmed area's parity push can overhang this grid, where the
        # reference's arraycopy would throw; the cells out there are empty
        ax, bx = max(start_x, 0), min(start_x + max_x, self.width)
        ay, by = max(start_y, 0), min(start_y + max_y, self.height)
        counts = self.grid[ax:bx, ay:by]
        if counts.shape != (width, height):
            padded = np.zeros((width, height), dtype=np.int64)
            padded[ax - start_x:bx - start_x, ay - start_y:by - start_y] = counts
            counts = padded
        return DensityGrid(bounds, self.trim_enabled, resolution, counts=counts)

    def _trim(self, area: Area) -> Area:
        """Shave empty edge rows/columns then re-round (DensityMap.java:137-179).

        Vectorized: first/last occupied column within the y-window, then
        first/last occupied row within the trimmed x-window — identical
        semantics to the reference's four scan loops, two numpy passes."""
        min_x = self.lon_to_x(area.min_long)
        max_x = self.lon_to_x(area.max_long)
        min_y = self.lat_to_y(area.min_lat)
        max_y = self.lat_to_y(area.max_lat)

        occ_x = np.nonzero(self.grid[min_x:max_x, min_y:max_y].any(axis=1))[0]
        if len(occ_x) == 0:
            return EMPTY_AREA
        new_min_x = min_x + int(occ_x[0])
        new_max_x = min_x + int(occ_x[-1]) + 1
        occ_y = np.nonzero(
            self.grid[new_min_x:new_max_x, min_y:max_y].any(axis=0))[0]
        if len(occ_y) == 0:
            return EMPTY_AREA
        min_x, max_x = new_min_x, new_max_x
        min_y, max_y = min_y + int(occ_y[0]), min_y + int(occ_y[-1]) + 1

        trimmed = Area(self.y_to_lat(min_y), self.x_to_lon(min_x),
                       self.y_to_lat(max_y), self.x_to_lon(max_x))
        return _round_within(trimmed, area, 24 - self.shift)


def _round_within(trimmed: Area, outer: Area, resolution: int) -> Area:
    """round_area, then shift back inside ``outer`` where the rounding
    pushed the max edges past it (DensityMap.java:166-175)."""
    rounded = round_area(trimmed, resolution)
    lat_adjust = max(0, rounded.max_lat - outer.max_lat)
    lon_adjust = max(0, rounded.max_long - outer.max_long)
    if lat_adjust > 0 or lon_adjust > 0:
        rounded = Area(rounded.min_lat - lat_adjust,
                       rounded.min_long - lon_adjust,
                       rounded.max_lat - lat_adjust,
                       rounded.max_long - lon_adjust)
    return rounded


class SplittableDensityArea:
    """Recursive split of a density grid into areas of ≤ max_nodes counts.

    Port of SplittableDensityArea.java:27-196, kept as the direct
    reference the tests check ``split_levels`` against.
    """

    def __init__(self, densities: DensityGrid):
        self.densities: Optional[DensityGrid] = densities

    def get_bounds(self) -> Area:
        return self.densities.bounds

    def get_aspect_ratio(self) -> float:
        """SplittableDensityArea.java:40-48 — width cos-corrected at both
        latitudes, Java (int) truncation."""
        d = self.densities
        return _aspect_ratio(d.bounds, d.width, d.height)

    def split(self, max_nodes: int) -> List[Area]:
        """SplittableDensityArea.java:52-100."""
        d = self.densities
        if d is None or d.node_count() == 0:
            return []
        bounds = d.bounds
        if d.node_count() <= max_nodes:
            self.densities = None
            return [bounds]
        if d.width < 4 and d.height < 4:
            return [bounds]

        split_result = None
        split_x = self._get_split(axis=1)
        split_y = self._get_split(axis=0)

        if self.get_aspect_ratio() <= 1.0 and d.height >= 4 and split_y is not None:
            split_result = self._split_vert(split_y)
        if split_result is None and d.width >= 4 and split_x is not None:
            split_result = self._split_horiz(split_x)
        if self.get_aspect_ratio() > 1.0 and split_result is None and d.height >= 4 and split_y is not None:
            split_result = self._split_vert(split_y)
        if split_result is None:
            return [bounds]

        self.densities = None
        return _mix_results(split_result[0].split(max_nodes),
                            split_result[1].split(max_nodes))

    # --- split point selection (SplittableDensityArea.java:127-196) -----
    def _get_split(self, axis: int) -> Optional[int]:
        """Weighted-mean cell of the column (axis=1) or row (axis=0) sums."""
        sums = self.densities.grid.sum(axis=axis)
        ws = int((sums * np.arange(len(sums), dtype=np.int64)).sum())
        return self._limit(0, len(sums), ws // int(sums.sum()))

    @staticmethod
    def _limit(first: int, second: int, calc_offset: int) -> Optional[int]:
        """Clamp to middle 3/5 quantiles, force even parity
        (SplittableDensityArea.java:182-196)."""
        mid = first + calc_offset
        limitoff = (second - first) // 5
        if mid - first < limitoff:
            mid = first + limitoff
        elif second - mid < limitoff:
            mid = second - limitoff
        if mid % 2 != 0:
            mid -= 1
        if mid == first or mid == second:
            return None
        return mid

    def _split_horiz(self, split_x: int):
        d = self.densities
        return tuple(SplittableDensityArea(d.subset(h))
                     for h in _halves_horiz(d.bounds, split_x, d.shift))

    def _split_vert(self, split_y: int):
        d = self.densities
        return tuple(SplittableDensityArea(d.subset(h))
                     for h in _halves_vert(d.bounds, split_y, d.shift))


def _aspect_ratio(bounds: Area, width: int, height: int) -> float:
    width1 = int(np.trunc(width * math.cos(math.radians(to_degrees(bounds.min_lat)))))
    width2 = int(np.trunc(width * math.cos(math.radians(to_degrees(bounds.max_lat)))))
    return float(max(width1, width2)) / height


def _halves_horiz(b: Area, split_x: int, shift: int) -> Tuple[Area, Area]:
    mid = b.min_long + (split_x << shift)
    return (Area(b.min_lat, b.min_long, b.max_lat, mid),
            Area(b.min_lat, mid, b.max_lat, b.max_long))


def _halves_vert(b: Area, split_y: int, shift: int) -> Tuple[Area, Area]:
    mid = b.min_lat + (split_y << shift)
    return (Area(b.min_lat, b.min_long, mid, b.max_long),
            Area(mid, b.min_long, b.max_lat, b.max_long))


def _mix_results(a1: List[Area], a2: List[Area]) -> List[Area]:
    """Interleave the two halves' results then reverse
    (SplittableDensityArea.java:103-122). The order defines sequential
    map-id assignment (Main.java:181-195), so it must be exact."""
    results: List[Area] = []
    i = j = 0
    while i < len(a1) and j < len(a2):
        results.append(a1[i]); i += 1
        results.append(a2[j]); j += 1
    results.extend(a1[i:])
    results.extend(a2[j:])
    results.reverse()
    return results


def rounded_split_bounds(exact_area: Area, resolution: int) -> Area:
    """round_area plus the sliver-coverage guard — the root bbox of every
    split (``split_levels``).

    Robustness divergence #2 (same spirit as split_levels' empty-areas
    retry): RoundingUtils.round moves the min-lat edge UP and the max-lon
    edge DOWN (RoundingUtils.java:74,89), so data confined to a
    sub-alignment sliver along those two edges falls OUTSIDE the rounded
    bbox — the subset grid never sees those rows, trim hugs the surviving
    bands, and real input points end up in no tile (the ±overlap
    extension cannot rescue them once trim has pulled the nearest tile a
    whole band away). Detect the exclusion and pad the exact bbox by one
    alignment on the excluded side(s); round_area's own parity adjustment
    often pulls an edge outward already, in which case nothing changes
    and tile boundaries stay bit-identical to the reference. The ±85°
    polar clamp is the reference's intentional discard and is honoured
    (no pad below it) — which carries a documented residual: data in the
    sub-alignment band between to_map_unit(-85) and its round-up is
    still excluded, because the PLANET density grid itself starts at the
    rounded clamp (density_cells' containment filter) — exactly the
    reference's near-pole behavior (DensityMapCollector never counts
    those nodes either). Fixing it would mean diverging from the
    TestRounding-pinned clamp semantics, not just padding here."""
    bbounds = round_area(exact_area, resolution)
    align = 1 << (24 - resolution)
    clamped_min_lat = max(exact_area.min_lat, to_map_unit(-85.0))
    grow_down = bbounds.min_lat > clamped_min_lat
    grow_right = bbounds.max_long < exact_area.max_long
    if grow_down or grow_right:
        padded = Area(exact_area.min_lat - (align if grow_down else 0),
                      exact_area.min_long,
                      exact_area.max_lat,
                      exact_area.max_long + (align if grow_right else 0))
        bbounds = round_area(padded, resolution)
    return bbounds


# --- the level-synchronous split ----------------------------------------

@dataclass
class _Node:
    window: Area                       # pre-trim bounds, map units
    bounds: Optional[Area] = None      # final (trimmed+rounded); None = empty
    children: Optional[Tuple["_Node", "_Node"]] = None


def _covers(outer: Area, inner: Area) -> bool:
    return (outer.min_lat <= inner.min_lat and inner.max_lat <= outer.max_lat
            and outer.min_long <= inner.min_long
            and inner.max_long <= outer.max_long)


def _decide(b: Area, w: Window, s: Stats, max_nodes: int,
            shift: int) -> Optional[Tuple[Area, Area]]:
    """Reference split() control flow (SplittableDensityArea.java:52-100)
    on the stats of the final bounds ``b`` (cells ``w``). Returns the two
    halves, or None for a leaf."""
    n, sx, sy = s[:3]
    x0, x1, y0, y1 = w
    width, height = x1 - x0, y1 - y0
    if n <= max_nodes or (width < 4 and height < 4):
        return None
    # weighted-mean cell from the bounds' edge: Σ(x − x0)·cnt // n
    split_x = SplittableDensityArea._limit(0, width, (sx - x0 * n) // n)
    split_y = SplittableDensityArea._limit(0, height, (sy - y0 * n) // n)
    aspect = _aspect_ratio(b, width, height)
    if aspect <= 1.0 and height >= 4 and split_y is not None:
        return _halves_vert(b, split_y, shift)
    if width >= 4 and split_x is not None:
        return _halves_horiz(b, split_x, shift)
    if aspect > 1.0 and height >= 4 and split_y is not None:
        return _halves_vert(b, split_y, shift)
    return None


def _order(n: _Node) -> List[Area]:
    if n.bounds is None:
        return []
    if n.children is None:
        return [n.bounds]
    return _mix_results(_order(n.children[0]), _order(n.children[1]))


def _split_tree(aggregate: Callable[[Sequence[Window]], List[Stats]],
                origin: Area, bbounds: Area, resolution: int,
                max_nodes: int, stats: dict) -> List[Area]:
    shift = 24 - resolution
    root_window = Area(max(origin.min_lat, bbounds.min_lat),
                       max(origin.min_long, bbounds.min_long),
                       min(origin.max_lat, bbounds.max_lat),
                       min(origin.max_long, bbounds.max_long))
    if root_window.max_lat <= root_window.min_lat or \
       root_window.max_long <= root_window.min_long:
        return []

    def cells_of(a: Area) -> Window:
        return ((a.min_long - origin.min_long) >> shift,
                (a.max_long - origin.min_long) >> shift,
                (a.min_lat - origin.min_lat) >> shift,
                (a.max_lat - origin.min_lat) >> shift)

    def stats_of(areas: List[Area]) -> List[Stats]:
        stats["levels"] += 1
        return aggregate([cells_of(a) for a in areas])

    root = _Node(root_window)
    active = [root]
    while active:
        live = []              # (node, stats over its final bounds)
        refetch = []
        for n, s in zip(active, stats_of([n.window for n in active])):
            if s is None:
                continue
            x_lo, x_hi, y_lo, y_hi = s[3:]
            trimmed = Area(origin.min_lat + (y_lo << shift),
                           origin.min_long + (x_lo << shift),
                           origin.min_lat + ((y_hi + 1) << shift),
                           origin.min_long + ((x_hi + 1) << shift))
            b = n.bounds = _round_within(trimmed, n.window, resolution)
            if _covers(b, trimmed) and _covers(n.window, b):
                # the cells between the occupied extent and the window
                # are empty: the window's stats are the final bounds'
                live.append((n, s))
            else:
                # the rounding cut into the occupied extent (the ±85° clamp)
                # or pushed past the window (root parity overhang)
                refetch.append(n)
        if refetch:
            stats["refetched"] += len(refetch)
            live += zip(refetch, stats_of([n.bounds for n in refetch]))
        active = []
        for n, s in live:
            if s is None:
                n.bounds = None
                continue
            halves = _decide(n.bounds, cells_of(n.bounds), s, max_nodes, shift)
            if halves is not None:
                n.children = (_Node(halves[0]), _Node(halves[1]))
                active.extend(n.children)
    return _order(root)


def split_levels(aggregate: Callable[[Sequence[Window]], List[Stats]],
                 origin: Area, exact_area: Area, resolution: int,
                 max_nodes: int, first_map_id: int = 63240001,
                 stats: Optional[dict] = None) -> List[Area]:
    """The quadtree split, one tree level at a time.

    ``origin`` is the rounded area of the density grid (cell coordinates
    are relative to its min corner). ``aggregate`` takes a level's node
    windows (``Window``) and returns each one's ``Stats`` of the cell
    counts inside it. Identical tiles to ``SplittableDensityArea`` over
    the same dense grid, in reference traversal order, with sequential
    map ids (Main.java:177-195).

    ``stats``, if given, gets {"levels": n, "refetched": m}: the number of
    ``aggregate`` calls made, and of nodes whose final bounds were read
    again."""
    stats = {} if stats is None else stats
    stats["levels"] = stats["refetched"] = 0
    areas = _split_tree(aggregate, origin,
                        rounded_split_bounds(exact_area, resolution),
                        resolution, max_nodes, stats)
    if not areas:
        # Robustness divergence from the reference: RoundingUtils.round
        # rounds the min-lat edge *up* (RoundingUtils.java:74), so data
        # confined to a sub-alignment sliver can round to a bbox that
        # misses every point and the split yields no tiles (the reference
        # would emit an empty areas.list here). Pad the exact bbox by one
        # alignment and retry so a non-empty input always produces ≥1 tile.
        padded = round_area(exact_area.extend(1 << (24 - resolution)),
                            resolution)
        areas = _split_tree(aggregate, origin, padded, resolution,
                            max_nodes, stats)
    return [Area(a.min_lat, a.min_long, a.max_lat, a.max_long,
                 map_id=first_map_id + i) for i, a in enumerate(areas)]


class KeyIndex:
    """Driver aggregator of ``split_levels`` over an occupied-cell table.

    The cells sorted by their x-major key x·height + y, with int64 running
    counts and running y·counts. The cells of column x with y0 ≤ y < y1 are
    one contiguous key range, found by two ``searchsorted`` calls, and its
    first and last keys give that column's occupied y-extent: a window's
    stats cost O(w·log n)."""

    def __init__(self, keys: np.ndarray, counts: np.ndarray,
                 width: int, height: int):
        self.width = width
        self.height = height
        self._keys = keys
        self._run = np.zeros(len(keys) + 1, dtype=np.int64)
        np.cumsum(counts, out=self._run[1:])
        self._yrun = np.zeros(len(keys) + 1, dtype=np.int64)
        np.cumsum(keys % height * counts, out=self._yrun[1:])

    def window_stats(self, windows: Sequence[Window]) -> List[Stats]:
        return [self._stats(*w) for w in windows]

    def _stats(self, x0: int, x1: int, y0: int, y1: int) -> Stats:
        # a window may overhang the grid (root-window parity push); the
        # keys alias across columns there, so clip first
        a, b = max(x0, 0), min(x1, self.width)
        c, d = max(y0, 0), min(y1, self.height)
        if a >= b or c >= d:
            return None
        base = np.arange(a, b, dtype=np.int64) * self.height
        lo = np.searchsorted(self._keys, base + c)
        hi = np.searchsorted(self._keys, base + d)
        occ = np.flatnonzero(hi > lo)
        if len(occ) == 0:
            return None
        lo, hi = lo[occ], hi[occ]
        col = self._run[hi] - self._run[lo]
        return (int(col.sum()), int(col @ (occ + a)),
                int((self._yrun[hi] - self._yrun[lo]).sum()),
                a + int(occ[0]), a + int(occ[-1]),
                int((self._keys[lo] % self.height).min()),
                int((self._keys[hi - 1] % self.height).max()))


def split_area(grid: DensityGrid, exact_area: Area, resolution: int,
               max_nodes: int, first_map_id: int = 63240001) -> List[Area]:
    """Pass-1 tail: round the exact data bbox, split the density grid's
    occupied cells, assign sequential map ids (Main.java:177-195 + nodes.
    getRoundedArea, DensityMapCollector.java:80-83). Returns Areas with
    map_id set in reference traversal order."""
    if grid.node_count() == 0:
        return []
    index = KeyIndex(*grid.packed(), grid.width, grid.height)
    return split_levels(index.window_stats, grid.bounds, exact_area,
                        resolution, max_nodes, first_map_id)
