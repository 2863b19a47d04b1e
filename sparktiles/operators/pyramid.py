"""Tile-pyramid operators: enumeration, tile assignment, impute.

Reference counterparts:
- pyramid enumeration (T1)  -> bin/generate-tiles:94-98 + utils.py:103-113
- impute (T3)               -> mbtile_tools.py:106-196 (children math
                               at 179-190; dup threshold 20 / 50 for
                               z>12 at mbtile_tools.py:36-38)
- MID_ZOOM driver loop (T4) -> bin/generate-tiles:100-117; the
                               one-pass form of the walk (walk_input /
                               impute_summary / replay_impute /
                               emit_map_blocks / expand_map_blocks)
                               is what build_fast runs
- tile_multiplier (T5)      -> bin/tile_multiplier:24-54

Scale design notes (100 TB / 1000 executors):
- Point->tile assignment is MAP-SIDE column math (no join): a feature
  row knows its tile(s) from its mercator coords; the only shuffle is
  the per-tile groupBy that builds the MVT — keyed by (z,x,y), which
  quadkey-partitions evenly except hot cells (salting handled by AQE
  skew split since the aggregation is applyInPandas over a shuffle).
- The buffer ring duplicates a feature into at most 4 tiles (corner
  case) via a static array + explode — constant fan-out, no UDF.
- Empty tiles are never enumerated above MID_ZOOM: impute walks the
  pyramid top-down and only *generates* children of non-dup parents,
  exactly the reference's dominant z12-14 optimization.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sparktiles.functions.tilemath import (
    HALF_WORLD,
    WORLD_MERC_WIDTH,
    lonlat_to_tile_exprs,
)

EMPTY_TILE_DUP_THRESHOLD = 20       # mbtile_tools.py:36-38
EMPTY_TILE_DUP_THRESHOLD_HIGH = 50  # for z > 12


def dup_threshold(zoom: int) -> int:
    """Copies of one tile_id in the map at `zoom` that make it a dup."""
    return EMPTY_TILE_DUP_THRESHOLD_HIGH if zoom > 12 else EMPTY_TILE_DUP_THRESHOLD


def tile_pyramid(
    spark: SparkSession,
    minzoom: int,
    maxzoom: int,
    bounds_lonlat: tuple[float, float, float, float] | None = None,
) -> DataFrame:
    """All (z, x, y) for z in [minzoom, maxzoom], optionally restricted
    to a lon/lat bbox (reference utils.py:103-113 clamped tile ranges).
    Pure generator: sequence + explode, no driver-side loops."""
    zs = spark.range(minzoom, maxzoom + 1).select(F.col("id").cast("int").alias("z"))
    n = F.pow(F.lit(2.0), F.col("z").cast("double"))
    if bounds_lonlat is None:
        x0, y0 = F.lit(0).cast("long"), F.lit(0).cast("long")
        x1 = (n - 1).cast("long")
        y1 = (n - 1).cast("long")
    else:
        lon0, lat0, lon1, lat1 = bounds_lonlat
        x0, y1 = lonlat_to_tile_exprs(F.lit(lon0), F.lit(lat0), F.col("z"))
        x1, y0 = lonlat_to_tile_exprs(F.lit(lon1), F.lit(lat1), F.col("z"))
    strips = zs.select(
        "z", F.explode(F.sequence(x0, x1)).alias("x"),
        y0.alias("y0"), y1.alias("y1"))
    # spread the x-strips before the y-explode: without this every
    # zoom's ENTIRE universe streams out of the single task holding its
    # z-row (one thread emitting 268M rows at z14); the strip shuffle
    # is tiny (sum 2^z rows) and the y-explode then runs on every core
    return (
        strips.repartition(F.col("z"), F.col("x"))
        .select("z", "x", F.explode(F.sequence("y0", "y1")).alias("y"))
    )


def assign_point_tiles(
    features: DataFrame,
    zoom,
    buffer_px: float = 0.0,
    x_col: str = "px",
    y_col: str = "py",
) -> DataFrame:
    """Map each point feature to its containing tile at `zoom`, plus
    neighbor tiles whose buffered envelope contains it (the set-oriented
    re-formulation of the reference's per-tile `geometry && bbox` GiST
    scan, sqltomvt.py:197-198 / SURVEY.md J1).

    A feature within buffer_px/256 of a tile edge also belongs to the
    adjacent tile(s) — up to 4 tiles at a corner. Emits columns z, x
    (tile), y (tile) while preserving feature columns; the mercator
    coords stay available as px/py.
    """
    z = F.lit(zoom) if not isinstance(zoom, F.Column) else zoom
    n = F.pow(F.lit(2.0), z.cast("double"))
    fx = (F.col(x_col) + F.lit(HALF_WORLD)) / F.lit(WORLD_MERC_WIDTH) * n
    fy = (F.lit(HALF_WORLD) - F.col(y_col)) / F.lit(WORLD_MERC_WIDTH) * n
    bf = F.lit(float(buffer_px) / 256.0)
    top = (n - 1).cast("long")

    df = features.withColumn("_fx", fx).withColumn("_fy", fy)
    tx = F.floor("_fx").cast("long")
    ty = F.floor("_fy").cast("long")
    # candidate offsets: own tile always; +-1 when within buffer of edge
    west = (F.col("_fx") - tx < bf) & (tx > 0)
    east = (tx + 1 - F.col("_fx") < bf) & (tx < top)
    north = (F.col("_fy") - ty < bf) & (ty > 0)
    south = (ty + 1 - F.col("_fy") < bf) & (ty < top)

    def cand(cond, dx, dy):
        s = F.struct((tx + dx).alias("cx"), (ty + dy).alias("cy"))
        return F.when(cond, s) if cond is not None else s

    cands = F.array_compact(
        F.array(
            cand(None, 0, 0),
            cand(west, -1, 0),
            cand(east, 1, 0),
            cand(north, 0, -1),
            cand(south, 0, 1),
            cand(west & north, -1, -1),
            cand(east & north, 1, -1),
            cand(west & south, -1, 1),
            cand(east & south, 1, 1),
        )
    )
    out = (
        df.withColumn("_c", F.explode(cands))
        .withColumn("z", z.cast("int"))
        .withColumn("x", F.col("_c.cx"))
        .withColumn("y", F.col("_c.cy"))
        .drop("_fx", "_fy", "_c")
    )
    return out


def assign_point_tiles_multi(
    features: DataFrame, minzoom: int, maxzoom: int, buffer_px: float = 0.0,
    x_col: str = "px", y_col: str = "py",
) -> DataFrame:
    """All zooms in one plan: explode z in [minzoom, maxzoom] then
    assign. One wide map stage; the whole pyramid becomes a single
    shuffle keyed (z,x,y)."""
    zdf = features.withColumn(
        "zz", F.explode(F.sequence(F.lit(minzoom), F.lit(maxzoom)))
    )
    return assign_point_tiles(zdf, F.col("zz"), buffer_px, x_col, y_col).drop("zz")


def assign_bbox_tiles(
    df: DataFrame, zoom, xmin="xmin", ymin="ymin", xmax="xmax", ymax="ymax",
    buffer_px: float = 0.0,
) -> DataFrame:
    """Explode a mercator-bbox row (e.g. polygon envelope) to all tiles
    whose buffered envelope it overlaps at `zoom` (candidate generation
    for the polygon path of J1/J2). Fan-out bounded by geometry size;
    the exact clip happens later in the MVT kernel. The tile buffer
    follows the reference formula world*buffer/256/2^z
    (sqltomvt.py:226-242)."""
    z = F.lit(zoom) if not isinstance(zoom, F.Column) else zoom
    n = F.pow(F.lit(2.0), z.cast("double"))
    margin = F.lit(WORLD_MERC_WIDTH * float(buffer_px) / 256.0) / n
    top = (n - 1).cast("long")

    def tx_of(c, sign):
        v = (F.col(c) if isinstance(c, str) else c) + sign * margin
        t = F.floor((v + F.lit(HALF_WORLD)) / F.lit(WORLD_MERC_WIDTH) * n).cast("long")
        return F.greatest(F.lit(0).cast("long"), F.least(t, top))

    def ty_of(c, sign):
        v = (F.col(c) if isinstance(c, str) else c) + sign * margin
        t = F.floor((F.lit(HALF_WORLD) - v) / F.lit(WORLD_MERC_WIDTH) * n).cast("long")
        return F.greatest(F.lit(0).cast("long"), F.least(t, top))

    x0, x1 = tx_of(xmin, -1), tx_of(xmax, 1)
    y0, y1 = ty_of(ymax, 1), ty_of(ymin, -1)  # y inverts
    return (
        df.withColumn("z", z.cast("int"))
        .withColumn("x", F.explode(F.sequence(x0, x1)))
        .withColumn("y", F.explode(F.sequence(y0, y1)))
    )


def assign_bbox_tiles_multi(
    df: DataFrame, minzoom: int, maxzoom: int, buffer_px: float = 0.0, **kw
) -> DataFrame:
    """assign_bbox_tiles across a zoom range in one plan (polygon/line
    analog of assign_point_tiles_multi)."""
    zdf = df.withColumn("zz", F.explode(F.sequence(F.lit(minzoom), F.lit(maxzoom))))
    return assign_bbox_tiles(zdf, F.col("zz"), buffer_px=buffer_px, **kw).drop("zz")


def assign_supercover_tiles_multi(
    df: DataFrame, minzoom: int, maxzoom: int, buffer_px: float = 0.0,
    geom_col: str = "geom",
) -> DataFrame:
    """Supercover tile assignment for WKB features across a zoom range —
    the O(path-length) replacement for `assign_bbox_tiles_multi`'s
    O(bbox-area) explode (the reference's per-tile `geometry &&
    ST_Expand(envelope, buffer)` GiST predicate, sqltomvt.py:197-242,
    re-formulated set-oriented).

    One mapInPandas stage: each Arrow batch decodes its WKB ONCE
    (`vecmvt.decode_wkb_batch`), then per zoom rasterizes segments to
    the tile cells they actually pass through (+ buffer margin;
    polygons keep interior cells via per-column fill) and fans out as
    numpy index views over the batch — no per-candidate WKB decode, no
    doomed-row explosion. Candidates are a strict superset of the
    exact-clip survivor set (property-tested) and typically within ~2x
    of it, vs the measured 23x of the bbox explode on line layers
    (docs/SCALE.md "KNOWN NEXT", round 3).

    Output: input columns + z int, x long, y long — drop-in for
    assign_bbox_tiles_multi. Rows with NULL/unsupported geometry emit
    nothing (their clip would drop them anyway).
    """
    import pandas as pd

    from sparktiles.functions.tilecover import cover_cells_zoom
    from sparktiles.functions.vecmvt import decode_wkb_batch

    bf = float(buffer_px) / 256.0
    in_cols = [f.name for f in df.schema]
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema]
        + ["z int", "x long", "y long"]
    )

    def run(batches):
        import numpy as np  # noqa: F811 (worker-side)

        for pdf in batches:
            if not len(pdf):
                continue
            pt, ln, pg = decode_wkb_batch(pdf[geom_col].to_numpy())
            rows_all, z_all, x_all, y_all = [], [], [], []
            for z in range(minzoom, maxzoom + 1):
                r, cx, cy = cover_cells_zoom(pt, ln, pg, z, bf)
                if len(r):
                    rows_all.append(r)
                    z_all.append(np.full(len(r), z, dtype=np.int32))
                    x_all.append(cx)
                    y_all.append(cy)
            if not rows_all:
                continue
            idx = np.concatenate(rows_all)
            out = {c: pdf[c].to_numpy()[idx] for c in in_cols}
            out["z"] = np.concatenate(z_all)
            out["x"] = np.concatenate(x_all)
            out["y"] = np.concatenate(y_all)
            yield pd.DataFrame(out)

    return df.mapInPandas(run, out_schema)


def with_tile_rank(assigned: DataFrame, order_by, rank_col: str = "rank") -> DataFrame:
    """Per-tile importance rank starting at 1 (W2 — the mountain_peak
    layer's `rank` field, tests/testlayers/mountain_peak/
    mountain_peak.yaml:24): rank within (z,x,y) by the given ordering."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("z", "x", "y").orderBy(*order_by)
    return assigned.withColumn(rank_col, F.rank().over(w))


# ----------------------------------------------------------------- impute

def dup_tile_ids(tile_map: DataFrame, zoom: int | None = None) -> DataFrame:
    """Duplicate-tile finder (A6, reference mbtile_tools.py:49-103):
    tile_ids appearing >= threshold times — 'empty-ish' content
    (oceans, deserts). Threshold 20, or 50 above z12."""
    th = dup_threshold(zoom or 0)
    df = tile_map
    if zoom is not None:
        df = df.where(F.col("zoom_level") == zoom)
    return (
        df.groupBy("tile_id").count().where(F.col("count") >= F.lit(th)).select("tile_id")
    )


def impute_children(parents: DataFrame, dup_keys: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Reference impute (T3, mbtile_tools.py:106-196): for each parent
    tile at z-1, emit its 4 children at z. Children of parents whose
    tile_id is in dup_keys inherit the tile_id as-is (imputed rows for
    tile_map); the rest become the to-generate list for zoom z.

    parents: zoom_level, tile_column, tile_row, tile_id.
    Returns (imputed_map_rows, generate_list) — generate_list columns
    (z, x, y).
    """
    kids = parents.join(F.broadcast(dup_keys.withColumn("_dup", F.lit(True))),
                        "tile_id", "left")
    children = kids.select(
        (F.col("zoom_level") + 1).alias("zoom_level"),
        F.explode(
            F.array(
                F.struct((F.col("tile_column") * 2).alias("cx"), (F.col("tile_row") * 2).alias("cy")),
                F.struct((F.col("tile_column") * 2 + 1).alias("cx"), (F.col("tile_row") * 2).alias("cy")),
                F.struct((F.col("tile_column") * 2).alias("cx"), (F.col("tile_row") * 2 + 1).alias("cy")),
                F.struct((F.col("tile_column") * 2 + 1).alias("cx"), (F.col("tile_row") * 2 + 1).alias("cy")),
            )
        ).alias("c"),
        "tile_id",
        "_dup",
    ).select(
        "zoom_level",
        F.col("c.cx").alias("tile_column"),
        F.col("c.cy").alias("tile_row"),
        "tile_id",
        "_dup",
    )
    imputed = children.where(F.col("_dup")).drop("_dup")
    generate = children.where(F.col("_dup").isNull()).select(
        F.col("zoom_level").cast("int").alias("z"),
        F.col("tile_column").alias("x"),
        F.col("tile_row").alias("y"),
    )
    return imputed, generate


# ------------------------------------------------- one-pass impute walk
#
# The reference walk (impute_children per zoom) needs the map at z-1 to
# decide zoom z. It rests on one fact: a dup tile_id has >= 20 copies,
# so >= 80 one zoom deeper, and stays dup. Every imputed region is
# therefore a whole quadtree subtree under its first dup ancestor (its
# "root"), i.e. one morton interval per deeper zoom (Raster Intervals,
# SIGMOD 2023). Only the per-zoom dup SETS are global; given them, each
# mid-zoom subtree walks on its own. So build_fast runs:
#   walk_input       tiles_all keys + universe markers, grouped per
#                    low-zoom tile / mid-zoom subtree
#   impute_summary   one kernel pass -> per (zoom, ancestor pattern,
#                    candidate id) counts, collected to the driver
#   replay_impute    the driver replays the walk on those counts: the
#                    dup set of every zoom + per-zoom stats
#   emit_map_blocks  one kernel pass emits the map as blocks: a root
#                    is ONE row standing for its whole subtree, so the
#                    kernel's output is O(tiles_all rows), not O(map)
#   expand_map_blocks  the JVM explodes the blocks into map rows in
#                    the same stage as the map write (spillable, one
#                    task per walk_input partition)

_M29 = (1 << 29) - 1


def _pack(z, x, y):
    """(z, x, y) int arrays -> one int64 key, ordered like (z, x, y)."""
    return ((z.astype(np.int64) << 58) | (x.astype(np.int64) << 29)
            | y.astype(np.int64))


def walk_input(tiles: DataFrame, universe: DataFrame, mid: int,
               empty_id: str, n_parts: int | None = None) -> DataFrame:
    """The impute walk's input: every tiles_all key (z, x, y, tile_id)
    plus a NULL-id marker row per universe tile at z <= mid, keyed
    g = pack(min(z, mid), x >> d, y >> d) with d = z - min(z, mid). A
    g group is one low-zoom tile, or one mid-zoom tile with everything
    tiles_all holds below it.

    `cand` flags the ids that may ever be dups: the empty id, and ids
    with at least the dup threshold of rows at some zoom >= mid. An id
    first turns dup at zoom z through rows generated at z, and no more
    rows are generated than tiles_all holds there.

    Hash-partitioned on g into `n_parts` partitions (None: AQE sizes
    them by bytes) and sorted (g, z, x, y): both kernels below read
    it, so the caller checkpoints it. The map write runs one task per
    partition, and a mid-zoom subtree expands to 4^(maxzoom - mid)
    times its input, so a deep build passes a count sized by map rows
    rather than by these few input bytes."""
    th = F.when(F.col("z") > 12, F.lit(EMPTY_TILE_DUP_THRESHOLD_HIGH)) \
        .otherwise(F.lit(EMPTY_TILE_DUP_THRESHOLD))
    # one exchange: hashing on tile_id alone clusters both windows
    keyed = (
        tiles.select("z", "x", "y", "tile_id").repartition("tile_id")
        .withColumn("_h", (F.col("z") >= mid) & (
            F.count(F.lit(1)).over(Window.partitionBy("tile_id", "z")) >= th))
        .withColumn("cand", F.max("_h").over(Window.partitionBy("tile_id"))
                    | (F.col("tile_id") == empty_id))
        .drop("_h")
    )
    markers = universe.select(
        "z", "x", "y", F.lit(None).cast("string").alias("tile_id"),
        F.lit(None).cast("boolean").alias("cand"))
    gz = F.least(F.col("z"), F.lit(mid))
    d = (F.col("z") - gz).cast("int")
    g = (F.shiftleft(gz.cast("long"), 58)
         .bitwiseOR(F.shiftleft(F.call_function("shiftright", F.col("x"), d), 29))
         .bitwiseOR(F.call_function("shiftright", F.col("y"), d)))
    keyed = keyed.unionByName(markers).withColumn("g", g)
    keyed = (keyed.repartition(n_parts, "g") if n_parts
             else keyed.repartition("g"))
    return keyed.sortWithinPartitions("g", "z", "x", "y")


def _group(arrs, s: int, e: int):
    """One g group -> (gz, gx, gy, marker present, tiles_all rows as
    z, x, y, id, cand, sorted packed keys)."""
    import pandas as pd

    g = int(arrs["g"][s])
    tid = arrs["tile_id"][s:e]
    t = ~pd.isna(tid)
    z = arrs["z"][s:e][t].astype(np.int64)
    x = arrs["x"][s:e][t].astype(np.int64)
    y = arrs["y"][s:e][t].astype(np.int64)
    cand = arrs["cand"][s:e][t].astype(bool)
    return (g >> 58, (g >> 29) & _M29, g & _M29, bool((~t).any()),
            z, x, y, tid[t], cand, _pack(z, x, y))


def _ancestor_codes(z, x, y, keys, code, mid: int, maxzoom: int):
    """(rows, maxzoom - mid) matrix: column j - mid holds the code of
    the row's ancestor at zoom j (0, the empty id, when tiles_all has
    no such tile) or -1 (not a candidate, or not an ancestor)."""
    anc = np.full((len(z), max(maxzoom - mid, 0)), -1, dtype=np.int64)
    for j in range(mid, maxzoom):
        sel = np.flatnonzero(z > j)
        if not len(sel):
            break
        sh = z[sel] - j
        ak = (np.int64(j) << 58) | ((x[sel] >> sh) << 29) | (y[sel] >> sh)
        i = np.minimum(np.searchsorted(keys, ak), len(keys) - 1)
        anc[sel, j - mid] = np.where(keys[i] == ak, code[i], 0)
    return anc


def impute_summary(part: DataFrame, mid: int, maxzoom: int,
                   empty_id: str) -> list:
    """One pass over walk_input -> the summary replay_impute needs:
    rows (z, pat, own, n).

    - z >= mid: n tiles_all rows at zoom z inside the map's domain whose
      own id is `own` (a candidate; None otherwise) and whose candidate
      ancestors at zooms mid..z-1 are `pat` ("j:id,..."; a tile missing
      from tiles_all counts as the empty id). A universe tile at mid
      missing from tiles_all is one (mid, "", empty id) row. Rows under
      a mid tile outside the domain are never in the map: skipped.
    - z < mid: one row per map tile (pat "", own as above or the empty id).
    Counts are merged per task, so the driver collects a few rows per
    task and distinct pattern, whatever the data size."""
    from sparktiles.operators.mvt import grouped_map_sorted

    acc: Counter = Counter()

    def fn(arrs, s, e):
        gz, gx, gy, marker, z, x, y, ids, cand, keys = _group(arrs, s, e)
        if gz < mid:  # one low-zoom tile: its map row is the T id or E
            own = (ids[0] if cand[0] else None) if len(ids) else empty_id
            acc[(int(gz), "", own)] += 1
            return []
        if not (marker or (z == mid).any()):
            return []
        if not (z == mid).any():
            acc[(mid, "", empty_id)] += 1
        names = [empty_id] + sorted({c for c in ids[cand]} - {empty_id})
        lut = {c: i for i, c in enumerate(names)}
        code = np.array([lut[c] if k else -1 for c, k in zip(ids, cand)],
                        dtype=np.int64)
        anc = _ancestor_codes(z, x, y, keys, code, mid, maxzoom)
        uniq, cnt = np.unique(np.column_stack([z, code, anc]), axis=0,
                              return_counts=True)
        for row, n in zip(uniq, cnt):
            own = names[row[1]] if row[1] >= 0 else None
            pat = ",".join(f"{mid + j}:{names[c]}"
                           for j, c in enumerate(row[2:]) if c >= 0)
            acc[(int(row[0]), pat, own)] += int(n)
        return []

    def flush():
        rows = [(z, p, own, n) for (z, p, own), n in acc.items()]
        acc.clear()
        return rows

    return grouped_map_sorted(
        part, ["g"], fn, "z int, pat string, own string, n long",
        partitioned=True, on_end=flush).collect()


def _parse_pat(p: str) -> tuple:
    return tuple((int(j), c) for j, c in
                 (e.split(":", 1) for e in p.split(","))) if p else ()


def replay_impute(summary, minzoom: int, mid: int, maxzoom: int,
                  empty_id: str) -> dict:
    """Replay the reference walk (impute_children zoom by zoom) on the
    impute_summary rows. Positions are tracked as counts per (ancestor
    pattern, own candidate id); the children of a zoom's positions are
    4x their count, and those tiles_all does not hold are empty.

    Returns {"dups": {z: frozenset of dup ids of the map at z}, for
    z in [mid, maxzoom), "zooms": per-zoom n_tiles / n_nonempty /
    n_imputed / n_generated}."""
    at: dict[int, Counter] = {}
    for z, p, own, n in summary:
        at.setdefault(z, Counter())[(_parse_pat(p), own)] += n

    dups: dict[int, frozenset] = {}
    zooms = []
    for z in range(minzoom, mid):
        c = at.get(z, Counter())
        n = sum(c.values())
        zooms.append({"z": z, "n_tiles": n,
                      "n_nonempty": n - c[((), empty_id)],
                      "n_imputed": 0, "n_generated": n})

    def root(p):
        """The id a position inherits: its first dup ancestor's."""
        for j, c in p:
            if c in dups[j]:
                return c
        return None

    pos: Counter = Counter()
    for z in range(mid, maxzoom + 1):
        cur = Counter(at.get(z, Counter()))
        if z > mid:
            held = Counter()
            for (p, _), n in cur.items():
                held[p] += n
            kids = Counter()
            for (p, own), n in pos.items():
                kids[p + ((z - 1, own),) if own is not None else p] += 4 * n
            for p, n in kids.items():
                if n != held[p]:
                    assert n > held[p], "tiles_all row outside its parent's subtree"
                    cur[(p, empty_id)] += n - held[p]
        pos = cur
        gen: Counter = Counter()
        n_tiles = n_imp = n_ne = 0
        for (p, own), n in pos.items():
            n_tiles += n
            r = root(p)
            if r is not None:
                n_imp += n
                n_ne += n if r != empty_id else 0
                continue
            n_ne += n if own != empty_id else 0
            if own is not None:
                gen[own] += n
        prev = dups.get(z - 1, frozenset())
        dups[z] = prev | {c for c, n in gen.items() if n >= dup_threshold(z)}
        zooms.append({"z": z, "n_tiles": n_tiles, "n_nonempty": n_ne,
                      "n_imputed": n_imp, "n_generated": n_tiles - n_imp})
    dups.pop(maxzoom, None)
    return {"dups": dups, "zooms": zooms}


BLOCK_SCHEMA = ("zoom_level int, tile_column long, tile_row long, "
                "tile_id string, deep boolean")


def block_stats(blocks: list, maxzoom: int, empty_id: str, stats: dict):
    """Fold map blocks (zoom_level, tile_column, tile_row, tile_id,
    deep) into per-zoom lineage stats {z: [rows, non-empty rows, min x,
    max x, min y, max y, set of ids]} of the rows they expand to. A
    deep block at zoom z covers 4^d tiles at zoom z + d, x in
    [x << d, ((x + 1) << d) - 1] and likewise y."""
    if not blocks:
        return
    z, x, y, ids, deep = (np.array(c) for c in zip(*blocks))
    z, x, y = z.astype(np.int64), x.astype(np.int64), y.astype(np.int64)
    ids = ids.astype(object)
    ne = ids != empty_id
    for d in range(maxzoom - int(z.min()) + 1):
        live = np.ones(len(z), bool) if d == 0 else deep & (z + d <= maxzoom)
        if not live.any():
            break
        for zz in np.unique(z[live] + d):
            sel = live & (z + d == zz)
            st = stats.setdefault(int(zz), [0, 0, None, None, None, None, set()])
            n = int(sel.sum())
            st[0] += n << (2 * d)
            st[1] += int(ne[sel].sum()) << (2 * d)
            for k, v, f in ((2, (x[sel] << d).min(), min),
                            (3, ((x[sel] + 1) << d).max() - 1, max),
                            (4, (y[sel] << d).min(), min),
                            (5, ((y[sel] + 1) << d).max() - 1, max)):
                st[k] = int(v) if st[k] is None else f(st[k], int(v))
            st[6].update(ids[sel])


def emit_map_blocks(part: DataFrame, dups: dict, mid: int, maxzoom: int,
                    empty_id: str, stats_acc=None) -> DataFrame:
    """The map as blocks (BLOCK_SCHEMA) from walk_input in one pass: a
    low-zoom tile takes its tiles_all id or the empty id; a mid-zoom
    subtree walks down zoom by zoom. A tile whose id is in dups[z] is a
    root: it is emitted once with deep = true (its whole subtree down to
    maxzoom inherits its id) and not walked further; its siblings take
    their tiles_all id or the empty id. Subtrees under a mid tile
    outside the domain emit nothing. Roots only sit under non-roots, so
    a group emits at most ~5x its tiles_all rows plus its marker.

    stats_acc, if given, is an accumulator that receives, per task and
    zoom, {(partition id, z): (rows, non-empty rows, min x, max x,
    min y, max y, distinct ids)} of the expanded rows: the lineage rows
    of the files a map write in the same task writes."""
    from sparktiles.operators.mvt import grouped_map_sorted

    quad_x = np.array([0, 1, 0, 1], dtype=np.int64)
    quad_y = np.array([0, 0, 1, 1], dtype=np.int64)
    stats: dict = {}
    pending: list = []

    def fn(arrs, s, e):
        gz, gx, gy, marker, z, x, y, ids, _, keys = _group(arrs, s, e)
        if gz < mid:
            rows = [(int(gz), int(gx), int(gy),
                     ids[0] if len(ids) else empty_id, False)]
        else:
            at_mid = z == mid
            if not (marker or at_mid.any()):
                return []
            names, inv = np.unique(np.append(ids, empty_id).astype(str),
                                   return_inverse=True)
            names = names.astype(object)
            code, ecode = inv[:-1], int(inv[-1])
            px, py = np.array([gx]), np.array([gy])
            pc = code[at_mid] if at_mid.any() else np.array([ecode])
            rows = []
            for j in range(mid, maxzoom + 1):
                dj = dups.get(j, ())
                deep = np.array([n in dj for n in names])[pc]
                rows.extend(zip([j] * len(pc), px.tolist(), py.tolist(),
                                names[pc].tolist(), deep.tolist()))
                walk = ~deep
                if j == maxzoom or not walk.any():
                    break
                px, py, pc = px[walk], py[walk], pc[walk]
                cx = np.repeat(px * 2, 4) + np.tile(quad_x, len(px))
                cy = np.repeat(py * 2, 4) + np.tile(quad_y, len(py))
                ck = _pack(np.full(len(cx), j + 1), cx, cy)
                i = np.minimum(np.searchsorted(keys, ck), max(len(keys) - 1, 0))
                hit = (keys[i] == ck) if len(keys) else np.zeros(len(ck), bool)
                px, py = cx, cy
                pc = np.where(hit, code[i] if len(keys) else ecode, ecode)
        if stats_acc is not None:
            pending.extend(rows)
            if len(pending) >= 65536:
                block_stats(pending, maxzoom, empty_id, stats)
                pending.clear()
        return rows

    def flush():
        if stats_acc is not None:
            from pyspark import TaskContext

            block_stats(pending, maxzoom, empty_id, stats)
            pending.clear()
            pid = TaskContext.get().partitionId()
            stats_acc.add({(pid, z): tuple(st[:6]) + (len(st[6]),)
                           for z, st in stats.items()})
            stats.clear()
        return []

    return grouped_map_sorted(part, ["g"], fn, BLOCK_SCHEMA,
                              partitioned=True, on_end=flush)


def expand_map_blocks(blocks: DataFrame, maxzoom: int) -> DataFrame:
    """Map rows (zoom_level, tile_column, tile_row, tile_id) from
    emit_map_blocks output: a deep block at zoom z becomes its 4^d
    descendants at every zoom z + d <= maxzoom. Generator expressions
    only — rows stream through the task that writes them."""
    levels = blocks.select(
        "tile_id", F.col("tile_column").alias("bx"), F.col("tile_row").alias("by"),
        F.col("zoom_level").alias("bz"),
        F.explode(F.sequence(
            F.col("zoom_level"),
            F.when(F.col("deep"), F.lit(maxzoom)).otherwise(F.col("zoom_level"))
        )).alias("zoom_level"))
    d = (F.col("zoom_level") - F.col("bz")).cast("int")

    def span(c):
        return F.sequence(F.call_function("shiftleft", F.col(c), d),
                          F.call_function("shiftleft", F.col(c) + 1, d) - 1)

    return (levels
            .select("zoom_level", "tile_id",
                    F.explode(span("bx")).alias("tile_column"),
                    span("by").alias("ys"))
            .select("zoom_level", "tile_column",
                    F.explode("ys").alias("tile_row"), "tile_id"))


def tile_multiplier(changed: DataFrame, minzoom: int, maxzoom: int) -> DataFrame:
    """Expand changed tiles (z,x,y at some zoom) to every overlapping
    tile for z in [minzoom, maxzoom] (T5, reference bin/tile_multiplier:
    24-54): parents via x >> k, children via the 2^k x 2^k grid.
    Distinct'd — drives incremental re-tiling."""
    src = changed.select("z", "x", "y")
    levels = src.withColumn("tz", F.explode(F.sequence(F.lit(minzoom), F.lit(maxzoom))))
    dz = F.col("tz") - F.col("z")
    # parents (dz < 0): floor-divide by 2^{-dz}; children (dz>0): range
    parents = levels.where(dz <= 0).select(
        F.col("tz").alias("z"),
        F.call_function("shiftright", F.col("x"), (-dz).cast("int")).alias("x"),
        F.call_function("shiftright", F.col("y"), (-dz).cast("int")).alias("y"),
    )
    k = dz.cast("int")
    children = (
        levels.where(dz > 0)
        .select(
            F.col("tz").alias("z"),
            F.explode(
                F.sequence(
                    F.call_function("shiftleft", F.col("x"), k),
                    F.call_function("shiftleft", F.col("x") + 1, k) - 1,
                )
            ).alias("x"),
            F.call_function("shiftleft", F.col("y"), k).alias("y0"),
            (F.call_function("shiftleft", F.col("y") + 1, k) - 1).alias("y1"),
        )
        .select("z", "x", F.explode(F.sequence("y0", "y1")).alias("y"))
    )
    return parents.unionByName(children).distinct()
