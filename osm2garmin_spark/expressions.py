"""Reusable JVM-side column expressions (no Python in the hot path).

``map_unit`` mirrors Utils.toMapUnit (Utils.java:56-63) as a Catalyst
expression so the codec runs inside whole-stage codegen; ``trunc_toward_zero``
reproduces Java's (int) cast on doubles. Both are also emitted as ANSI SQL
(for DuckDB oracles) by the ``*_sql`` twins — the float expression order is
identical, so results match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

#: map units per full circle (2^24) — Utils.java:47
FULL_CIRCLE = 1 << 24
DELTA = 1e-6


def trunc_toward_zero(c: Column) -> Column:
    """Java (int)/(long) cast semantics on a double column."""
    return F.when(c >= 0, F.floor(c)).otherwise(F.ceil(c)).cast("long")


def map_unit(deg: Column) -> Column:
    """Degrees → integer map units (Utils.java:56-63), JVM-side."""
    nudged = F.when(deg > 0, deg + F.lit(DELTA)).otherwise(deg - F.lit(DELTA))
    return trunc_toward_zero(nudged * F.lit(float(FULL_CIRCLE)) / F.lit(360.0))


def map_unit_or_null(deg: Column) -> Column:
    """``map_unit``, NULL for a NaN degree (map_unit truncates NaN to 0):
    the tiling paths drop a NaN coordinate as they drop a NULL one."""
    return F.when(~F.isnan(deg), map_unit(deg))


def map_unit_sql(deg_expr: str) -> str:
    """Identical formula as ANSI SQL text (runs on Spark *and* DuckDB)."""
    nudged = (f"(CASE WHEN ({deg_expr}) > 0 THEN ({deg_expr}) + 1e-06 "
              f"ELSE ({deg_expr}) - 1e-06 END)")
    scaled = f"({nudged} * 16777216.0 / 360.0)"
    return (f"CAST(CASE WHEN {scaled} >= 0 THEN FLOOR({scaled}) "
            f"ELSE CEIL({scaled}) END AS BIGINT)")


def lcg_sql(id_expr: str, mult: int, add: int, mod: int) -> str:
    """Deterministic integer mix (LCG) as SQL text — used to derive synthetic
    lat/lon from integer ids identically in Spark and DuckDB."""
    return f"((({id_expr}) * {mult} + {add}) % {mod})"


def lcg(idc: Column, mult: int, add: int, mod: int) -> Column:
    return (idc * F.lit(mult) + F.lit(add)) % F.lit(mod)


def derived_lat(idc: Column) -> Column:
    """Deterministic pseudo-latitude in (-85, 85) from an integer id."""
    return lcg(idc, 1103515245, 12345, 2147483648).cast("double") % F.lit(170000000.0) / F.lit(1000000.0) - F.lit(85.0)


def derived_lon(idc: Column) -> Column:
    """Deterministic pseudo-longitude in (-180, 180) from an integer id."""
    return lcg(idc, 69069, 1, 2147483648).cast("double") % F.lit(360000000.0) / F.lit(1000000.0) - F.lit(180.0)


def derived_lat_sql(id_expr: str) -> str:
    return (f"(CAST({lcg_sql(id_expr, 1103515245, 12345, 2147483648)} AS DOUBLE) "
            f"% 170000000.0 / 1000000.0 - 85.0)")


def derived_lon_sql(id_expr: str) -> str:
    return (f"(CAST({lcg_sql(id_expr, 69069, 1, 2147483648)} AS DOUBLE) "
            f"% 360000000.0 / 1000000.0 - 180.0)")
