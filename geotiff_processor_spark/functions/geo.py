"""Spatial scalar functions: quadkey cell index, Web-Mercator, XYZ tiles.

The cell index is a from-scratch hierarchical quadkey (H3/S2-style
*parent-prefix* property: the level-p cell id of a point is the first p
characters of its level-q id for q>p). It is defined over integer
milli-degrees with pure integer arithmetic so the same formula evaluates
bit-identically in Spark, DuckDB (differential oracle) and numpy (the
Arrow pandas-UDF variant).

Reference analogs: the tile grid / overview levels of
``/root/reference/params.py:27`` and the EPSG:3857 reprojection of
``/root/reference/export_formats/geoserverDEM.py:34-38``.

Every formula exists once, as dialect-neutral SQL text; the Spark side
uses ``F.expr`` on the same text.  This keeps the engine and the oracle
provably in sync.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# integer milli-degree domain
LON_SPAN = 360_000  # -180000 .. 180000
LAT_SPAN = 180_000  # -90000 .. 90000
DEFAULT_CELL_LEVEL = 12
EARTH_RADIUS_M = 6378137.0  # WGS84 / EPSG:3857 sphere radius


# ---------------------------------------------------------------------------
# SQL-text emitters (dialect-neutral: valid in Spark SQL and DuckDB)
# ---------------------------------------------------------------------------

def sql_xi(lonm: str) -> str:
    """Normalized integer x in [0, 359999] from milli-degree longitude."""
    return f"least(greatest({lonm} + 180000, 0), 359999)"


def sql_yi(latm: str) -> str:
    """Normalized integer y (north-up) in [0, 179999] from milli-degree lat."""
    return f"least(greatest(90000 - {latm}, 0), 179999)"


def sql_cell_xq(lonm: str, levels: int = DEFAULT_CELL_LEVEL) -> str:
    """Level-`levels` x quotient (0 .. 2^levels-1) — computed once; all
    digits derive from it with cheap power-of-two ops (codegen-friendly:
    the naive per-digit form blows janino's method-size limits)."""
    return (f"cast(floor(({sql_xi(lonm)}) * {1 << levels} / {LON_SPAN})"
            " as bigint)")


def sql_cell_yq(latm: str, levels: int = DEFAULT_CELL_LEVEL) -> str:
    return (f"cast(floor(({sql_yi(latm)}) * {1 << levels} / {LAT_SPAN})"
            " as bigint)")


def sql_cell_id_from_q(xq: str, yq: str,
                       levels: int = DEFAULT_CELL_LEVEL) -> str:
    """Cell id from precomputed level-`levels` quotient columns.

    digit_l = bit (levels-l) of xq + 2 * bit (levels-l) of yq — identical
    to floor(xi*2^l/SPAN) % 2 by the nested-floor identity.
    """
    digits = []
    for l in range(1, levels + 1):
        k = 1 << (levels - l)
        digits.append(
            f"cast(cast(floor({xq} / {k}) as bigint) % 2"
            f" + 2 * (cast(floor({yq} / {k}) as bigint) % 2) as string)")
    return "concat(" + ", ".join(digits) + ")"



def sql_cell_id(lonm: str, latm: str, levels: int = DEFAULT_CELL_LEVEL) -> str:
    """Hierarchical cell id string of `levels` quadkey digits, self
    contained (inlines the quotients; prefer the two-step
    sql_cell_xq/yq + sql_cell_id_from_q in hot paths).

    Parent-prefix property: substring(cell_id, 1, p) is the level-p cell.
    """
    return sql_cell_id_from_q(
        f"({sql_cell_xq(lonm, levels)})",
        f"({sql_cell_yq(latm, levels)})",
        levels,
    )


def sql_cell_key(lonm: str, latm: str, level: int) -> str:
    """Integer cell key at one level: xq * 2^level + yq.

    Same cell partitioning as the quadkey string at that level, but a
    bigint — integer hash-join keys beat string prefixes in the hot path
    (the string id stays the public/user-facing form)."""
    xq = f"cast(floor(({sql_xi(lonm)}) * {1 << level} / {LON_SPAN}) as bigint)"
    yq = f"cast(floor(({sql_yi(latm)}) * {1 << level} / {LAT_SPAN}) as bigint)"
    return f"(({xq}) * {1 << level} + ({yq}))"


def cell_key_for_quadkey(cell: str) -> int:
    """Driver-side: integer key of a quadkey-string cell (same packing
    as sql_cell_key at level=len(cell))."""
    level = len(cell)
    xq = yq = 0
    for ch in cell:
        d = int(ch)
        xq = xq * 2 + (d & 1)
        yq = yq * 2 + (d >> 1)
    return xq * (1 << level) + yq


def sql_tile_x(lonm: str, zoom: int) -> str:
    """XYZ tile column at `zoom` — exact integer arithmetic."""
    n = 1 << zoom
    return (
        f"cast(least(greatest(floor(({lonm} + 180000) * {n} / 360000), 0), {n - 1})"
        " as bigint)"
    )


def sql_mercator_x(lon: str) -> str:
    """EPSG:3857 easting in meters (geoserverDEM.py:34-38 analog)."""
    return f"({EARTH_RADIUS_M} * radians({lon}))"


def sql_mercator_y(lat: str) -> str:
    """EPSG:3857 northing in meters."""
    return f"({EARTH_RADIUS_M} * ln(tan(pi()/4 + radians({lat})/2)))"


def sql_tile_y(lat: str, zoom: int) -> str:
    """XYZ tile row at `zoom` via Web-Mercator (slippy-map convention)."""
    n = 1 << zoom
    yn = f"((1.0 - ln(tan(pi()/4 + radians({lat})/2)) / pi()) / 2.0)"
    return f"cast(least(greatest(floor({yn} * {n}), 0), {n - 1}) as bigint)"


def sql_dist2_mdeg(lonm_a: str, latm_a: str, lonm_b: str, latm_b: str) -> str:
    """Squared planar distance in milli-degrees^2 — exact bigint."""
    return (
        f"(({lonm_a} - {lonm_b}) * ({lonm_a} - {lonm_b})"
        f" + ({latm_a} - {latm_b}) * ({latm_a} - {latm_b}))"
    )


# ---------------------------------------------------------------------------
# Spark Column wrappers (native expressions — whole-stage-codegen path)
# ---------------------------------------------------------------------------

def cell_id(lonm: str = "lonm", latm: str = "latm",
            levels: int = DEFAULT_CELL_LEVEL) -> Column:
    return F.expr(sql_cell_id(lonm, latm, levels))



def mercator_xy(lon: str, lat: str) -> tuple[Column, Column]:
    return F.expr(sql_mercator_x(lon)), F.expr(sql_mercator_y(lat))


# ---------------------------------------------------------------------------
# numpy implementations (shared by the Arrow pandas UDF and by driver-side
# polygon cover computation — same integer arithmetic as the SQL above)
# ---------------------------------------------------------------------------

def np_cell_digits(xi: np.ndarray, yi: np.ndarray, level: int) -> np.ndarray:
    xq = (xi.astype(np.int64) * (1 << level)) // LON_SPAN
    yq = (yi.astype(np.int64) * (1 << level)) // LAT_SPAN
    return (xq % 2 + 2 * (yq % 2)).astype(np.int64)


def np_cell_id(lonm: np.ndarray, latm: np.ndarray,
               levels: int = DEFAULT_CELL_LEVEL) -> np.ndarray:
    """Vectorized quadkey — identical to sql_cell_id (integer arithmetic)."""
    xi = np.clip(lonm.astype(np.int64) + 180_000, 0, LON_SPAN - 1)
    yi = np.clip(90_000 - latm.astype(np.int64), 0, LAT_SPAN - 1)
    # build digit matrix then join to strings via base-4 integer + format
    acc = np.zeros(len(xi), dtype=np.uint64)
    for l in range(1, levels + 1):
        acc = acc * 4 + np_cell_digits(xi, yi, l).astype(np.uint64)
    # render base-4 fixed width
    out = np.empty(len(xi), dtype=object)
    digits = np.empty((levels, len(xi)), dtype=np.uint64)
    tmp = acc.copy()
    for i in range(levels - 1, -1, -1):
        digits[i] = tmp % 4
        tmp //= 4
    chars = np.char.mod("%d", digits.astype(np.int64))
    out = chars[0]
    for i in range(1, levels):
        out = np.char.add(out, chars[i])
    return out


def make_cell_id_pandas_udf(levels: int = DEFAULT_CELL_LEVEL):
    """Arrow-vectorized pandas UDF variant of the cell encoder.

    The north_rule mandates batch cell encoding via Arrow-vectorized
    pandas UDFs; this is that path.  ``cell_id`` (native exprs) is the
    codegen fast path — both produce identical ids (tested).
    """
    from pyspark.sql.types import StringType

    @F.pandas_udf(StringType())
    def cell_id_udf(lonm: pd.Series, latm: pd.Series) -> pd.Series:
        ids = np_cell_id(lonm.to_numpy(np.int64), latm.to_numpy(np.int64), levels)
        return pd.Series(ids, dtype="object").astype(str)

    return cell_id_udf


def cell_range_for_bbox(min_lonm: int, min_latm: int, max_lonm: int,
                        max_latm: int, level: int) -> list[str]:
    """All level-`level` cell ids intersecting an integer-mdeg bbox.

    Driver-side helper (polygon side is small — broadcast dimension) used
    to build the cell-cover table for the PIP equi-join prefilter.
    Max-exclusive on both axes, matching the box-membership predicate.
    """
    xi_lo = min(max(min_lonm + 180_000, 0), LON_SPAN - 1)
    xi_hi = min(max(max_lonm - 1 + 180_000, 0), LON_SPAN - 1)
    # y flips: north-up index — max_latm maps to the smallest yi
    yi_lo = min(max(90_000 - (max_latm - 1), 0), LAT_SPAN - 1)
    yi_hi = min(max(90_000 - min_latm, 0), LAT_SPAN - 1)
    n = 1 << level
    xq_lo, xq_hi = xi_lo * n // LON_SPAN, xi_hi * n // LON_SPAN
    yq_lo, yq_hi = yi_lo * n // LAT_SPAN, yi_hi * n // LAT_SPAN
    cells = []
    for xq in range(xq_lo, xq_hi + 1):
        for yq in range(yq_lo, yq_hi + 1):
            digits = []
            for l in range(1, level + 1):
                shift = level - l
                xb = (xq >> shift) & 1
                yb = (yq >> shift) & 1
                digits.append(str(xb + 2 * yb))
            cells.append("".join(digits))
    return cells
