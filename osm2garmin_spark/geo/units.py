"""Garmin map-unit codec and power-of-two alignment rounding.

Semantics match the reference engine exactly (so tile boundaries are
bit-for-bit reproducible):

- map unit  = 1/2^24 of 360 degrees; conversion truncates toward zero after
  a +/-1e-6 nudge away from zero
  (reference: libraries/splitter/src/uk/me/parabola/splitter/Utils.java:47-64).
- round_down/round_up/round_nearest use Java's *unsigned* right shift
  (``>>>``) on 32-bit ints, i.e. they wrap through the unsigned domain
  (reference: RoundingUtils.java:29-62).

All functions accept scalars or numpy arrays (vectorized — these run inside
Arrow-batched UDFs and on the driver's density grid).
"""

from __future__ import annotations

import numpy as np

#: number of map units in a full 360-degree circle (2^24)
MAP_UNITS_FULL_CIRCLE = 1 << 24

_DELTA = 0.000001
_U32 = np.uint64(0xFFFFFFFF)


def to_map_unit(deg):
    """Degrees → integer map units, truncating toward zero after a ±1e-6 nudge.

    Mirrors ``Utils.toMapUnit`` (Utils.java:56-63): Java evaluates
    ``(l + DELTA) * (1 << 24) / 360`` left-to-right in double precision and
    casts to int (truncation toward zero). We reproduce the identical
    floating-point expression order.
    """
    d = np.asarray(deg, dtype=np.float64)
    nudged = np.where(d > 0, d + _DELTA, d - _DELTA)
    scaled = nudged * float(MAP_UNITS_FULL_CIRCLE) / 360.0
    out = np.trunc(scaled).astype(np.int64)
    if np.isscalar(deg) or getattr(deg, "ndim", 0) == 0:
        return int(out)
    return out


def to_degrees(mu):
    """Integer map units → degrees (Utils.java:47-49)."""
    m = np.asarray(mu, dtype=np.float64)
    out = m / (float(MAP_UNITS_FULL_CIRCLE) / 360.0)
    if np.isscalar(mu) or getattr(mu, "ndim", 0) == 0:
        return float(out)
    return out


def _to_i32(u):
    """Reinterpret unsigned 32-bit value(s) as signed 32-bit (Java int)."""
    u = np.asarray(u, dtype=np.uint64) & _U32
    signed = np.where(u >= np.uint64(1 << 31), u.astype(np.int64) - (1 << 64 >> 32), u.astype(np.int64))
    return signed


def _as_u32(val):
    v = np.asarray(val, dtype=np.int64)
    return v.astype(np.uint64) & _U32


def round_down(val, shift):
    """Round down to a multiple of 2^shift: ``val >>> shift << shift``
    (RoundingUtils.java:29-33, Java unsigned-shift wrap semantics)."""
    u = _as_u32(val)
    res = _to_i32((u >> np.uint64(shift)) << np.uint64(shift))
    return int(res) if np.isscalar(val) else res


def round_up(val, shift):
    """Round up to a multiple of 2^shift:
    ``(val + (1<<shift) - 1) >>> shift << shift`` (RoundingUtils.java:41-43)."""
    u = _as_u32(np.asarray(val, dtype=np.int64) + (1 << shift) - 1)
    res = _to_i32((u >> np.uint64(shift)) << np.uint64(shift))
    return int(res) if np.isscalar(val) else res


def round_nearest(val, shift):
    """Round to nearest multiple of 2^shift:
    ``(val + (1<<(shift-1))) >>> shift << shift`` (RoundingUtils.java:51-53)."""
    u = _as_u32(np.asarray(val, dtype=np.int64) + (1 << (shift - 1)))
    res = _to_i32((u >> np.uint64(shift)) << np.uint64(shift))
    return int(res) if np.isscalar(val) else res

