"""Web-Mercator tile math as Catalyst column expressions + Python twins.

Reproduces the reference's scalar semantics exactly:
- ZRes       -> reference sql/ZRes.sql:23-40 and openmaptiles/imposm.py:5-7
- Z          -> reference sql/Z.sql:24-39
- TileBBox   -> reference sql/TileBBox.sql:17-42 (max = 20037508.34 exactly,
                NOT world/2 = 20037508.3427892; the golden tests depend on it)
- buffered envelope -> reference openmaptiles/sqltomvt.py:226-242
  (buffer is a fraction of a 256px tile: world * buffer_px / 256 / 2^z)
- deg2num    -> reference openmaptiles/utils.py:32-37
- pixel width -> reference openmaptiles/sqltomvt.py:245-253

All functions come in two flavors: a Column-expression builder (used in
DataFrame plans, stays inside whole-stage codegen) and a plain-Python twin
(driver-side math + pytest golden oracle).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

# World width in EPSG:3857 meters (reference sqltomvt.py:227)
WORLD_MERC_WIDTH = 40075016.6855785
# TileBBox's deliberately-rounded half-world constant (reference TileBBox.sql:25)
TILEBBOX_MAX = 20037508.34
# Scale denominator of zoom 0 (reference sql/Z.sql:35)
Z0_SCALE_DENOMINATOR = 559082264.028
# Exact half-world for lon/lat <-> mercator projection
HALF_WORLD = WORLD_MERC_WIDTH / 2.0
# Default tile pixel size (reference tileset.py:468-470)
PIXEL_SCALE = 256


def _c(x) -> Column:
    return x if isinstance(x, Column) else F.lit(x)


# ---------------------------------------------------------------- ZRes / Z

def zres(z: float | int | None) -> float | None:
    """Meters per pixel at zoom z (256px tiles). ZRes golden:
    zres(0)=156543.0339, zres(19)=0.2986, zres(0.5)=110692.6408."""
    if z is None:
        return None
    return WORLD_MERC_WIDTH / (PIXEL_SCALE * 2.0 ** z)


def zres_expr(z) -> Column:
    return F.lit(WORLD_MERC_WIDTH) / (F.lit(float(PIXEL_SCALE)) * F.pow(F.lit(2.0), _c(z)))


def zoom_from_scale(scale_denominator: float | None) -> int | None:
    """Z(scale_denominator): round(log2(559082264.028/sd)); NULL when
    sd > 6e8 or sd == 0 (reference sql/Z.sql:30-38). Golden: Z(1000)=19."""
    if scale_denominator is None:
        return None
    sd = float(scale_denominator)
    if sd > 600_000_000 or sd == 0:
        return None
    return int(round(math.log2(Z0_SCALE_DENOMINATOR / sd)))


def zoom_from_scale_expr(sd) -> Column:
    sd = _c(sd)
    return F.when(
        (sd > F.lit(600_000_000)) | (sd == F.lit(0)), F.lit(None).cast("int")
    ).otherwise(
        F.round(F.log2(F.lit(Z0_SCALE_DENOMINATOR) / sd)).cast("int")
    )


def pixel_width(z: float) -> float:
    """!pixel_width! token: world/256/2^z (reference sqltomvt.py:245-251)."""
    return WORLD_MERC_WIDTH / PIXEL_SCALE / 2.0 ** z


# ---------------------------------------------------------------- TileBBox

def tile_bbox(z: int, x: int, y: int) -> tuple[float, float, float, float]:
    """(xmin, ymin, xmax, ymax) of tile (z,x,y) in EPSG:3857, with the
    reference's rounded constant (TileBBox.sql:24-33)."""
    res = (TILEBBOX_MAX * 2.0) / (2.0 ** z)
    xmin = -TILEBBOX_MAX + x * res
    ymax = TILEBBOX_MAX - y * res
    return (xmin, ymax - res, xmin + res, ymax)


def tile_bbox_exprs(z, x, y) -> tuple[Column, Column, Column, Column]:
    z, x, y = _c(z), _c(x), _c(y)
    res = F.lit(TILEBBOX_MAX * 2.0) / F.pow(F.lit(2.0), z.cast("double"))
    xmin = F.lit(-TILEBBOX_MAX) + x.cast("double") * res
    ymax = F.lit(TILEBBOX_MAX) - y.cast("double") * res
    return (xmin, ymax - res, xmin + res, ymax)


def buffered_tile_bbox_exprs(z, x, y, buffer_px: float) -> tuple[Column, ...]:
    xmin, ymin, xmax, ymax = tile_bbox_exprs(z, x, y)
    if buffer_px <= 0:
        return xmin, ymin, xmax, ymax
    m = F.lit(WORLD_MERC_WIDTH * buffer_px / PIXEL_SCALE) / F.pow(
        F.lit(2.0), _c(z).cast("double")
    )
    return xmin - m, ymin - m, xmax + m, ymax + m


# ------------------------------------------------------ lon/lat <-> tiles

def deg2num(lat: float, lon: float, zoom: int) -> tuple[int, int]:
    """Slippy tile index of a lon/lat point (reference utils.py:32-37)."""
    lat_rad = math.radians(lat)
    n = 2.0 ** zoom
    xtile = int((lon + 180.0) / 360.0 * n)
    ytile = int((1.0 - math.asinh(math.tan(lat_rad)) / math.pi) / 2.0 * n)
    return xtile, ytile


def lonlat_to_tile_exprs(lon, lat, zoom) -> tuple[Column, Column]:
    """Column twins of deg2num; clamped to [0, 2^z - 1]."""
    lon, lat, zoom = _c(lon), _c(lat), _c(zoom)
    n = F.pow(F.lit(2.0), zoom.cast("double"))
    xt = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * n)
    yt = F.floor(
        (F.lit(1.0) - F.asinh(F.tan(F.radians(lat))) / F.lit(math.pi))
        / F.lit(2.0)
        * n
    )
    top = (n - F.lit(1.0)).cast("long")
    xt = F.greatest(F.lit(0).cast("long"), F.least(xt.cast("long"), top))
    yt = F.greatest(F.lit(0).cast("long"), F.least(yt.cast("long"), top))
    return xt, yt


def lonlat_to_mercator(lon: float, lat: float) -> tuple[float, float]:
    """EPSG:4326 -> EPSG:3857 (exact spherical-mercator constants)."""
    x = lon / 180.0 * HALF_WORLD
    y = math.log(math.tan((90.0 + lat) * math.pi / 360.0)) / math.pi * HALF_WORLD
    return x, y


def mercator_x_expr(lon) -> Column:
    return _c(lon) / F.lit(180.0) * F.lit(HALF_WORLD)


def mercator_y_expr(lat) -> Column:
    return (
        F.log(F.tan((F.lit(90.0) + _c(lat)) * F.lit(math.pi / 360.0)))
        / F.lit(math.pi)
        * F.lit(HALF_WORLD)
    )


# ------------------------------------------------------------- cell ids

def quadkey_expr(z, x, y) -> Column:
    """Bit-interleaved Morton/quadkey of (x, y) at zoom z, packed with the
    zoom in the low bits: sortable long; prefix-aligned across zooms so a
    parent's quadkey is a prefix of its children's. Used as the sort/
    cluster key of tile tables (locality => small shuffle ranges)."""
    z, x, y = _c(z), _c(x), _c(y)
    # interleave via 4-way split (supports z<=15 -> 30 bits interleaved)
    xx, yy = x.cast("long"), y.cast("long")
    m = F.lit(0)
    for i in range(15):
        m = (
            m.bitwiseOR(F.shiftleft(F.shiftright(xx, i).bitwiseAND(F.lit(1)), 2 * i + 1))
            .bitwiseOR(F.shiftleft(F.shiftright(yy, i).bitwiseAND(F.lit(1)), 2 * i))
        )
    # left-align to zoom 15 so keys are prefix-comparable, then append z
    shifted = F.call_function(
        "shiftleft", m.cast("long"), (F.lit(15) - z.cast("int")) * F.lit(2)
    )
    return F.call_function("shiftleft", shifted, F.lit(5)).bitwiseOR(z.cast("long"))


def cell_id(z: int, x: int, y: int) -> int:
    """Python twin of cell_id_expr: (z,x,y) packed into one long."""
    return (int(z) << 58) | (int(x) << 29) | int(y)


def cell_id_expr(z, x, y) -> Column:
    """Pack (z, x, y) into a single long: z in bits 58+, x in 29..57,
    y in 0..28. Valid for z <= 29; we use z <= 15. Equi-joinable and
    cheap to unpack with shifts."""
    z, x, y = _c(z), _c(x), _c(y)
    return (
        F.shiftleft(z.cast("long"), 58)
        .bitwiseOR(F.shiftleft(x.cast("long"), 29))
        .bitwiseOR(y.cast("long"))
    )


def coarse_cell_expr(z, x, y, coarse_z: int = 5) -> Column:
    """Two-level spatial addressing: the ancestor cell_id of (z,x,y) at
    `coarse_z`. The web-mercator quadtree analog of an H3/S2 two-level
    scheme — COARSE cell (here z5: 1024 world cells) for partition/
    shard routing and co-located joins, FINE cell (cell_id/quadkey at
    native z) within a partition. A tile table clustered by
    (coarse_cell, quadkey) gives bounded shuffle ranges for any bbox
    query: the coarse level prunes partitions, the Morton fine level
    keeps the scan contiguous. For z < coarse_z the cell is its own
    coarse address."""
    z, x, y = _c(z), _c(x), _c(y)
    dz = F.greatest(z.cast("int") - F.lit(int(coarse_z)), F.lit(0))
    cz = F.least(z.cast("int"), F.lit(int(coarse_z)))
    cx = F.call_function("shiftright", x.cast("long"), dz)
    cy = F.call_function("shiftright", y.cast("long"), dz)
    return cell_id_expr(cz, cx, cy)
