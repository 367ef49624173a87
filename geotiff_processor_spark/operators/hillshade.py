"""Hillshade + the preview scalar chain (SURVEY.md W2/M5).

Reference: gdaldem hillshade with azimuth=90, zFactor=5
(/root/reference/export_formats/previews.py:83-92), gamma adjust
``uint8(((A/255)*0.5)*255)`` (previews.py:95-99), soft-light blend
(previews.py:102-111) and PIL contrast 1.12 (previews.py:113-117) as
SQL scalars; the 7-break color-relief CASE (previews.py:73-81) lives in
the ``palette_join`` query.

Hillshade is the 3x3-neighborhood operator (Horn gradients): per-tile
``applyInPandas`` with a 1-pixel halo exchange — each pixel row is
duplicated into every tile whose halo needs it (<= 4 copies on corners),
then each tile computes gradients with numpy and emits interior pixels
only. At 100 TB the halo duplication is O(perimeter/area) ~ 4/T
overhead for T x T tiles.

gdaldem Horn formula (GDAL's C implementation, public):
  dzdx = ((z7 + 2 z8 + z9) - (z1 + 2 z2 + z3)) / (8 ewres)
  dzdy = ((z1 + 2 z4 + z7) - (z3 + 2 z6 + z9)) / (8 nsres)   [north up]
  slope = atan(z * sqrt(dzdx^2 + dzdy^2))
  aspect = atan2(dzdy, -dzdx)
  shade = 255 * (cos(zen) cos(slope)
                 + sin(zen) sin(slope) cos(az - pi/2 - aspect))
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

AZIMUTH_DEG = 90.0  # previews.py:90
Z_FACTOR = 5.0      # previews.py:91
ALTITUDE_DEG = 45.0  # gdaldem default


def hillshade(raster: DataFrame, tile: int = 64, value_col: str = "elev",
              res: float = 1.0) -> DataFrame:
    """(px, py, shade) for interior pixels (all eight neighbors present).

    ``raster`` needs map_id, px, py, value_col. Tiles are tile x tile
    pixel blocks; halo rows are duplicated into neighbor tiles via a
    small explode (native exprs), the stencil runs vectorized per tile.
    """
    t = tile
    # tile ids this pixel must be shipped to: own tile + halo neighbors
    dx_cases = (
        f"filter(array(-1, 0, 1), d -> (d = 0)"
        f" or (d = -1 and px % {t} = 0)"
        f" or (d = 1 and px % {t} = {t - 1}))"
    )
    dy_cases = (
        f"filter(array(-1, 0, 1), d -> (d = 0)"
        f" or (d = -1 and py % {t} = 0)"
        f" or (d = 1 and py % {t} = {t - 1}))"
    )
    shipped = (
        raster.select(
            "map_id", "px", "py", F.col(value_col).alias("z"),
            F.explode(F.expr(
                f"transform({dx_cases},"
                f" d -> cast(floor(px / {t}) as bigint) + d)")).alias("tx"),
        )
        .select(
            "map_id", "px", "py", "z", "tx",
            F.explode(F.expr(
                f"transform({dy_cases},"
                f" d -> cast(floor(py / {t}) as bigint) + d)")).alias("ty"),
        )
    )

    zen = math.radians(90.0 - ALTITUDE_DEG)
    az = math.radians(AZIMUTH_DEG)
    schema = "map_id string, px bigint, py bigint, shade double"

    def shade_tile(key, pdf: pd.DataFrame) -> pd.DataFrame:
        map_id, tx, ty = key
        x0, y0 = int(tx) * t, int(ty) * t
        # local grid with 1-px halo
        g = np.full((t + 2, t + 2), np.nan)
        lx = pdf["px"].to_numpy(np.int64) - x0 + 1
        ly = pdf["py"].to_numpy(np.int64) - y0 + 1
        keep = (lx >= 0) & (lx < t + 2) & (ly >= 0) & (ly < t + 2)
        g[ly[keep], lx[keep]] = pdf["z"].to_numpy(np.float64)[keep]
        # g[row, col] with row = py offset (north = smaller py), col = px
        z1 = g[:-2, :-2]; z2 = g[:-2, 1:-1]; z3 = g[:-2, 2:]    # north row
        z4 = g[1:-1, :-2];                   z6 = g[1:-1, 2:]
        z7 = g[2:, :-2];  z8 = g[2:, 1:-1];  z9 = g[2:, 2:]     # south row
        dzdx = ((z3 + 2 * z6 + z9) - (z1 + 2 * z4 + z7)) / (8 * res)
        dzdy = ((z7 + 2 * z8 + z9) - (z1 + 2 * z2 + z3)) / (8 * res)
        # sqrt(dx^2+dy^2) (not np.hypot): keeps the FP op sequence
        # identical to the SQL differential oracle
        slope = np.arctan(Z_FACTOR * np.sqrt(dzdx * dzdx + dzdy * dzdy))
        aspect = np.arctan2(dzdy, -dzdx)
        shade = 255.0 * (np.cos(zen) * np.cos(slope)
                         + np.sin(zen) * np.sin(slope)
                         * np.cos(az - np.pi / 2.0 - aspect))
        # gdaldem semantics: nodata center => nodata out (Horn never
        # reads the center, so mask it explicitly)
        center = g[1:-1, 1:-1]
        valid = ~np.isnan(shade) & ~np.isnan(center)
        yy, xx = np.nonzero(valid)
        return pd.DataFrame({
            "map_id": map_id,
            "px": (xx + x0).astype(np.int64),
            "py": (yy + y0).astype(np.int64),
            "shade": shade[yy, xx],
        })

    return (
        shipped.groupBy("map_id", "tx", "ty")
        .applyInPandas(shade_tile, schema=schema)
    )


# ---------------------------------------------------------------------------
# preview scalar math (native expressions, previews.py:95-117)
# ---------------------------------------------------------------------------

def sql_gamma(a: str) -> str:
    """uint8(((A/255)*(0.5))*255) — numpy uint8 cast truncates."""
    return (f"cast(floor((({a} / cast(255 as double)) * cast(0.5 as double))"
            " * 255) as bigint)")


def sql_softlight_blend(a: str, b: str) -> str:
    """previews.py:102-111: A<128 => 2*(A/255)*(B/255);
    else 1 - 2*(1-A/255)*(1-B/255); scaled back to uint8."""
    an = f"({a} / cast(255 as double))"
    bn = f"({b} / cast(255 as double))"
    return (
        "cast(floor((case when {a} < 128 then 2 * {an} * {bn} "
        "else 1 - 2 * (1 - {an}) * (1 - {bn}) end) * 255) as bigint)"
    ).format(a=a, an=an, bn=bn)


def sql_contrast(c: str, mean: str, factor: float = 1.12) -> str:
    """PIL ImageEnhance.Contrast(1.12) analog: out = mean + f*(c-mean),
    clamped to [0, 255] (previews.py:113-117)."""
    e = f"({mean} + {factor} * ({c} - {mean}))"
    return f"cast(least(greatest(round({e}), 0), 255) as bigint)"
