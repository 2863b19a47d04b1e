"""Polygon (WKB) layer through the full tile build: clipping, winding,
multi-layer union + ordering."""

import pytest
from pyspark.sql import functions as F

from sparktiles.functions import geom as G
from sparktiles.functions import mvtcodec as C
from sparktiles.plans.config import FieldDef, LayerDef, TilesetDef
from sparktiles.plans.pipeline import BuildConfig, TileBuild
from sparktiles.operators.mvt import LayerSpec
from sparktiles.sources.polygons import generate_polygons

MAXZOOM = 4


@pytest.fixture(scope="module")
def polys(spark):
    return (
        generate_polygons(spark, n_grid=4)
        .where(F.col("poly_id") < 10_000)  # regular lattice only
        .withColumnRenamed("poly_id", "feature_id")
        .cache()
    )


@pytest.fixture(scope="module")
def poly_build(spark, polys, tmp_path_factory):
    spec = LayerSpec(
        layer_id="admin", index=0,
        attr_fields={"admin_class": "string", "name": "string"},
        key_field="feature_id", buffer_px=4, geometry_kind="wkb",
    )
    store = tmp_path_factory.mktemp("polystore")
    b = TileBuild(spark, [(spec, polys)], BuildConfig(
        store_dir=str(store), minzoom=0, maxzoom=MAXZOOM, mid_zoom=2))
    b.build_fast()
    return b


def test_polygon_pyramid_complete(spark, poly_build):
    tm = poly_build.read_tile_map()
    per_zoom = {r.zoom_level: r["c"] for r in
                tm.groupBy("zoom_level").agg(F.count("*").alias("c")).collect()}
    for z in range(MAXZOOM + 1):
        assert per_zoom[z] == 4**z


def test_polygon_tiles_decode_and_clip(spark, polys, poly_build):
    tm = poly_build.read_tile_map()
    imgs = poly_build.read_tile_images()
    rows = (
        tm.where(F.col("zoom_level") == MAXZOOM)
        .join(imgs, "tile_id")
        .where(F.length("tile_data") > 0)
        .collect()
    )
    assert rows, "no non-empty z4 tiles"
    pdata = {r.feature_id: G.wkb_loads(bytes(r.geom))
             for r in polys.collect()}
    extent = 4096
    checked = 0
    for r in rows[:30]:
        tile = C.decode_tile(bytes(r.tile_data))
        assert list(tile) == ["admin"]
        for f in tile["admin"]["features"]:
            assert f["type"] == C.GEOM_POLYGON
            # every ring within extent+buffer, exterior positive area
            ext = f["parts"][0].astype(float)
            buf = extent * 4 / 256
            assert ext[:, 0].min() >= -buf - 1 and ext[:, 0].max() <= extent + buf + 1
            assert G.ring_area(ext) > 0
            assert f["attrs"]["admin_class"] in (
                "country", "state", "county", "protected_area")
            # the feature id maps back to a real polygon that overlaps
            # this tile's bbox
            assert f["id"] in pdata
            checked += 1
    assert checked > 10


def test_polygon_feature_tile_counts_match_oracle(spark, polys, poly_build):
    """Every (polygon, z4 tile) pair in the output = oracle pairs where
    the polygon's CLIPPED geometry survives (non-degenerate)."""
    from sparktiles.functions.tilemath import tile_bbox
    from sparktiles.operators.mvt import as_mvt_geom

    tm = poly_build.read_tile_map()
    imgs = poly_build.read_tile_images()
    got = set()
    for r in tm.where(F.col("zoom_level") == MAXZOOM).join(imgs, "tile_id") \
            .where(F.length("tile_data") > 0).collect():
        tile = C.decode_tile(bytes(r.tile_data))
        for f in tile["admin"]["features"]:
            got.add((f["id"], r.tile_column, r.tile_row))

    exp = set()
    n = 2**MAXZOOM
    for p in polys.collect():
        g = G.wkb_loads(bytes(p.geom))
        b = G.bounds(g)
        if b is None:
            continue
        for tx in range(n):
            for ty in range(n):
                mg = as_mvt_geom(g, MAXZOOM, tx, ty, 4096, int(4096 * 4 / 256))
                if mg is not None:
                    exp.add((p.feature_id, tx, ty))
    assert got == exp


def test_two_layer_union_ordering(spark, polys, tmp_path):
    """Points + polygons in one tileset: tile blobs concatenate layers
    in layer_index order (W3/O1)."""
    pts = spark.range(50).select(
        F.col("id").alias("feature_id"),
        ((F.col("id") * 1234567.0) % 20000000.0 - 10000000.0).alias("px"),
        ((F.col("id") * 7654321.0) % 12000000.0 - 6000000.0).alias("py"),
        F.format_string("P%d", F.col("id")).alias("name"),
    )
    spec_pts = LayerSpec(layer_id="place", index=0,
                         attr_fields={"name": "string"}, buffer_px=8)
    spec_poly = LayerSpec(
        layer_id="admin", index=1, attr_fields={"admin_class": "string"},
        key_field="feature_id", buffer_px=0, geometry_kind="wkb")
    b = TileBuild(spark, [(spec_pts, pts), (spec_poly, polys)], BuildConfig(
        store_dir=str(tmp_path / "two"), minzoom=0, maxzoom=2, mid_zoom=2))
    b.build_fast()
    row = (
        b.read_tile_map().where(F.col("zoom_level") == 0)
        .join(b.read_tile_images(), "tile_id").first()
    )
    tile = C.decode_tile(bytes(row.tile_data))
    assert list(tile.keys()) == ["place", "admin"]  # index order
    assert len(tile["place"]["features"]) == 50
    assert len(tile["admin"]["features"]) == 16


HALF = 20037508.34278925


def _same_store(slow, fast):
    """Identical (z, x, y, tile_id) map and image bytes for every id the
    map uses."""
    m1, m2 = slow.read_tile_map(), fast.read_tile_map()
    assert m1.count() == m2.count()
    assert m1.exceptAll(m2).count() == 0
    i1 = {r.tile_id: bytes(r.tile_data) for r in slow.read_tile_images().collect()}
    i2 = {r.tile_id: bytes(r.tile_data) for r in fast.read_tile_images().collect()}
    used = {r.tile_id for r in m2.select("tile_id").distinct().collect()}
    assert used <= set(i2)
    for tid in used:
        assert i1[tid] == i2[tid]


def _wkb_frame(spark, geoms):
    return spark.createDataFrame(
        [(i, bytearray(G.wkb_dumps(g, srid=3857)), c) for i, g, c in geoms],
        "feature_id long, geom binary, class string")


def _both_builds(spark, frames, tmp_path, **cfg):
    slow = TileBuild(spark, frames, BuildConfig(
        store_dir=str(tmp_path / "slow"), **cfg))
    fast = TileBuild(spark, frames, BuildConfig(
        store_dir=str(tmp_path / "fast"), **cfg))
    slow.build()
    fast.build_fast()
    return slow, fast


def test_fast_build_nonempty_dup_root(spark, tmp_path):
    """World-spanning horizontal lines + one large polygon: the polygon's
    interior tiles share one non-empty tile_id, >= 20 copies at mid, so
    the walk imputes whole subtrees from a non-empty root; the lines'
    rows share ids along each tile row. build_fast == build()."""
    import numpy as np

    lines = _wkb_frame(spark, [
        (i, ("LineString", np.array([[-HALF, y], [HALF, y]])), "road")
        for i, y in enumerate((HALF * 0.9, -HALF * 0.9, HALF * 0.02))])
    big = ("Polygon", [np.array([[-HALF * 0.95, -HALF * 0.8],
                                 [HALF * 0.95, -HALF * 0.8],
                                 [HALF * 0.95, HALF * 0.8],
                                 [-HALF * 0.95, HALF * 0.8],
                                 [-HALF * 0.95, -HALF * 0.8]])])
    polys = _wkb_frame(spark, [(100, big, "land")])
    spec_l = LayerSpec(layer_id="transportation", index=0,
                       attr_fields={"class": "string"}, buffer_px=4,
                       geometry_kind="wkb")
    spec_p = LayerSpec(layer_id="landcover", index=1,
                       attr_fields={"class": "string"}, buffer_px=4,
                       geometry_kind="wkb")
    slow, fast = _both_builds(spark, [(spec_l, lines), (spec_p, polys)],
                              tmp_path, minzoom=0, maxzoom=5, mid_zoom=3)
    top = (fast.read_tile_map(3).groupBy("tile_id").count()
           .orderBy(F.desc("count")).first())
    assert top["count"] >= 20
    assert bytes(fast.read_tile_images().where(
        F.col("tile_id") == top.tile_id).first().tile_data)  # non-empty root
    _same_store(slow, fast)


def test_fast_build_row_under_degenerate_parent(spark, tmp_path):
    """A polygon one MVT grid unit wide at z4 snaps to zero area (and is
    dropped) at z3, so tiles_all holds a z4 row under a z3 tile it does
    not hold: the walk must treat that parent as empty. build_fast ==
    build()."""
    import numpy as np

    unit4 = 2 * HALF / 2**4 / 4096
    gx, gy = 9 * 4096 + 101, 5 * 4096 + 301   # odd z4 grid coords
    x0, y0 = -HALF + (gx + 0.3) * unit4, HALF - (gy + 0.3) * unit4
    tiny = ("Polygon", [np.array([[x0, y0], [x0 + unit4, y0],
                                  [x0 + unit4, y0 - unit4],
                                  [x0, y0 - unit4], [x0, y0]])])
    spec = LayerSpec(layer_id="building", index=0,
                     attr_fields={"class": "string"}, buffer_px=0,
                     geometry_kind="wkb")
    slow, fast = _both_builds(spark, [(spec, _wkb_frame(spark, [(1, tiny, "b")]))],
                              tmp_path, minzoom=0, maxzoom=4, mid_zoom=2)
    keys = {(r.z, r.x, r.y) for r in spark.read.parquet(
        str(tmp_path / "fast" / "tiles_all")).select("z", "x", "y").collect()}
    assert (4, 9, 5) in keys and (3, 4, 2) not in keys
    _same_store(slow, fast)
