"""Test oracle for TileBuild.build_fast: the reference build walk
(bin/generate-tiles:88-117, impute at mbtile_tools.py:106-196) run
directly. Tiles are generated one zoom at a time
(TileBuild._build_tiles((z, z))) and the map is walked zoom by zoom in
plain Python, so neither build_fast's all-zoom phase 1 nor its
one-pass phase-2 walk is on the oracle's path."""

import hashlib
from collections import Counter

from sparktiles.functions.tilemath import HALF_WORLD, WORLD_MERC_WIDTH
from sparktiles.operators.mvt import LayerSpec
from sparktiles.operators.pyramid import dup_threshold, tile_pyramid
from sparktiles.plans.pipeline import empty_tile_blob


def reference_walk(tiles, universe, minzoom, mid, maxzoom, empty_id):
    """{z: {(x, y): tile_id}} by the reference walk: [minzoom..mid] is
    the universe plus every tiles_all tile, deeper zooms impute.
    tiles: {(z, x, y): tile_id} of the non-empty tiles; universe:
    {z: {(x, y)}} for z in [minzoom..mid]."""
    maps = {}
    for z in range(minzoom, mid + 1):
        m = {p: empty_id for p in universe[z]}
        m.update({(x, y): t for (zz, x, y), t in tiles.items() if zz == z})
        maps[z] = m
    for z in range(mid + 1, maxzoom + 1):
        parents = maps[z - 1]
        cnt = Counter(parents.values())
        dups = {c for c, n in cnt.items() if n >= dup_threshold(z - 1)}
        m = {}
        for (x, y), c in parents.items():
            for k in ((2 * x, 2 * y), (2 * x + 1, 2 * y),
                      (2 * x, 2 * y + 1), (2 * x + 1, 2 * y + 1)):
                m[k] = c if c in dups else tiles.get((z,) + k, empty_id)
        maps[z] = m
    return maps


def store_contents(b):
    """(sorted map rows, {tile_id: image bytes}) of a built store."""
    rows = sorted(tuple(r) for r in b.read_tile_map().collect())
    imgs = {r.tile_id: bytes(r.tile_data) for r in b.read_tile_images().collect()}
    return rows, imgs


def oracle_store(b):
    """(sorted map rows, {tile_id: image bytes}) the reference walk
    gives for the layers and config of TileBuild `b`; the images are
    every generated tile plus the empty tile. Writes nothing."""
    cfg = b.cfg
    mid = max(cfg.minzoom, min(cfg.mid_zoom, cfg.maxzoom))
    empty_blob = empty_tile_blob(cfg.gzip_level)
    empty_id = hashlib.md5(empty_blob).hexdigest()
    tiles, imgs = {}, {empty_id: empty_blob}
    for z in range(cfg.minzoom, cfg.maxzoom + 1):
        for r in b._build_tiles((z, z)).select("x", "y", "tile_id", "mvt").collect():
            tiles[(z, r.x, r.y)] = r.tile_id
            imgs[r.tile_id] = bytes(r.mvt)
    universe = {z: set() for z in range(cfg.minzoom, mid + 1)}
    for r in tile_pyramid(b.spark, cfg.minzoom, mid, cfg.bounds_lonlat).collect():
        universe[r.z].add((r.x, r.y))
    maps = reference_walk(tiles, universe, cfg.minzoom, mid, cfg.maxzoom, empty_id)
    rows = sorted((z, x, y, t) for z, m in maps.items() for (x, y), t in m.items())
    return rows, imgs


def assert_matches_oracle(b):
    """The store TileBuild `b` built holds the reference walk's map rows
    and, for every tile_id the map uses, its image bytes. Returns the
    store's (rows, images)."""
    want_rows, want_imgs = oracle_store(b)
    rows, imgs = store_contents(b)
    assert rows == want_rows
    used = {r[3] for r in rows}
    assert used <= set(imgs)
    for tid in used:
        assert imgs[tid] == want_imgs[tid]
    return rows, imgs


# ----------------------------------------- identical-tile fixture
# One keyless point per page, page u{i} in z3 tile (i % 8, i // 8), all
# at the same spot inside their tile: the z3 tiles that hold a point
# share one tile_id, so `n` pages make that id appear exactly n times at
# z3. Built z0-z5 with mid 3, the id is a dup root when n >= the z3 dup
# threshold (20): its z4/z5 descendants inherit it, while generating
# them would give other ids (the point lands in one child of four).

DUP_ZOOM = 3
DUP_SPEC = LayerSpec(layer_id="dup", index=0, attr_fields={"name": "string"},
                     key_field=None, buffer_px=0)


def identical_point_pages(spark, urls):
    return spark.createDataFrame(
        [(u, None, bytearray(b"t"), "t", "en") for u in urls],
        "url string, warc_ts timestamp, html binary, text string, lang string")


def identical_point_features(pages):
    """The feature frame (px, py, name) of identical_point_pages."""
    from pyspark.sql import functions as F

    n = 2 ** DUP_ZOOM
    w = WORLD_MERC_WIDTH / n
    i = F.regexp_extract("url", r"(\d+)$", 1).cast("long")
    return pages.select(
        (F.lit(-HALF_WORLD) + ((i % n).cast("double") + 0.3) * w).alias("px"),
        (F.lit(HALF_WORLD) - ((i / n).cast("long").cast("double") + 0.3) * w)
        .alias("py"),
        F.lit("dup").alias("name"))
