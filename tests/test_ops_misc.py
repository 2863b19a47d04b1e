"""Tests: generalize, tile store copy/metadata, incremental, multimodal,
stats."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sparktiles.functions import geom as G
from sparktiles.operators.generalize import (
    geometry_stats,
    simplify_table,
    to_point_table,
)
from sparktiles.operators.multimodal import (
    attach_media,
    image_features,
    resize_images,
    sample_frames,
)
from sparktiles.operators.stats import size_buckets, tile_summary, toplength
from sparktiles.sources.polygons import generate_polygons
from sparktiles.sources.tilestore import (
    copy_tiles,
    filter_tiles,
    generate_metadata,
    tilejson,
)
from sparktiles.streaming.incremental import (
    changed_features,
    expired_tiles,
    invalidation_list,
    merge_tile_map,
)


def test_simplify_table(spark):
    # zigzag line with 1000-unit amplitude: simplify with large tol
    zig = ("LineString", np.array(
        [[0, 0], [1000, 800], [2000, 0], [3000, 800], [4000, 0]], dtype=float))
    df = spark.createDataFrame(
        [(1, bytearray(G.wkb_dumps(zig, srid=3857)))], "id int, geom binary")
    out = simplify_table(df, 100.0).first()
    g = G.wkb_loads(bytes(out.geom))
    assert len(g[1]) == 5  # amplitude 800 > tol -> kept
    out2 = simplify_table(df, 5000.0).first()
    g2 = G.wkb_loads(bytes(out2.geom))
    assert len(g2[1]) == 2  # collapsed to endpoints


def test_to_point_table(spark, tmp_path):
    polys = generate_polygons(spark, n_grid=2)
    out = to_point_table(polys)
    rows = {r.poly_id: r for r in out.collect()}
    # empty polygon -> null label point
    assert rows[10_003].geom_label is None
    # concave poly -> interior point is inside
    concave = G.wkb_loads(bytes(rows[10_001].geom))
    pt = G.wkb_loads(bytes(rows[10_001].geom_label))
    assert G.point_in_polygon(pt[1][0], pt[1][1], concave)


def test_geometry_stats(spark):
    polys = generate_polygons(spark, n_grid=2)
    out = {r.poly_id: r for r in geometry_stats(polys).collect()}
    assert out[0].geom_type == "Polygon" and out[0].is_valid
    assert not out[10_002].is_valid  # bow-tie
    assert out[0].area > 0


def test_filter_and_copy_tiles(spark, tmp_path):
    tm = spark.createDataFrame(
        [(z, x, y, f"id{z}{x}{y}") for z in range(3) for x in range(2**z)
         for y in range(2**z)],
        "zoom_level int, tile_column long, tile_row long, tile_id string",
    )
    imgs = tm.select("tile_id").distinct().withColumn(
        "tile_data", F.encode(F.col("tile_id"), "utf-8"))
    assert filter_tiles(tm, zooms=[1]).count() == 4
    assert filter_tiles(tm, min_zoom=1, max_zoom=2).count() == 20
    # bbox: western hemisphere only at z1 -> x=0
    w = filter_tiles(tm, bbox_lonlat=(-170, -80, -10, 80))
    assert w.where(F.col("zoom_level") == 1).agg(
        F.max("tile_column")).first()[0] == 0
    res = copy_tiles(tm, imgs, str(tmp_path / "m"), str(tmp_path / "i"), zooms=[0, 1])
    got = spark.read.parquet(res["map_path"])
    assert got.count() == 5
    assert spark.read.parquet(res["images_path"]).count() == 5


def test_metadata_and_tilejson(spark):
    from sparktiles.plans.config import FieldDef, LayerDef, TilesetDef

    ts = TilesetDef(
        name="meta", minzoom=0, maxzoom=3,
        layers=[LayerDef(id="place", fields=[
            FieldDef("name"), FieldDef("rank", mvt_type="number")],
            buffer_size=4)],
    )
    md = generate_metadata(ts)
    assert md["format"] == "pbf" and md["maxzoom"] == "3"
    tj = tilejson(md)
    assert tj["vector_layers"][0]["id"] == "place"
    assert tj["vector_layers"][0]["fields"]["rank"] == "Number"


def test_incremental_diff_and_merge(spark):
    old = spark.createDataFrame(
        [("u1", "aaa"), ("u2", "bbb"), ("u3", "ccc")], "url string, text string")
    new = spark.createDataFrame(
        [("u1", "aaa"), ("u2", "CHANGED"), ("u4", "ddd")], "url string, text string")
    diff = {r.url: r.change for r in changed_features(old, new).collect()}
    assert diff == {"u2": "updated", "u3": "removed", "u4": "added"}

    feats = spark.createDataFrame(
        [(1, 100000.0, 200000.0)], "feature_id long, px double, py double")
    exp = expired_tiles(feats, 5)
    assert exp.count() == 1
    inv = invalidation_list(exp, 3, 6)
    # 1 tile at z5 -> 1 at z3, 1 at z4, 1 at z5, 4 at z6
    per_z = {r.z: r["cnt"] for r in inv.groupBy("z").agg(
        F.count("*").alias("cnt")).collect()}
    assert per_z == {3: 1, 4: 1, 5: 1, 6: 4}

    existing = spark.createDataFrame(
        [(5, 1, 1, "old"), (5, 9, 9, "keep")],
        "zoom_level int, tile_column long, tile_row long, tile_id string")
    fresh = spark.createDataFrame(
        [(5, 1, 1, "new")],
        "zoom_level int, tile_column long, tile_row long, tile_id string")
    invd = spark.createDataFrame([(5, 1, 1)], "z int, x long, y long")
    merged = {(r.zoom_level, r.tile_column, r.tile_row): r.tile_id
              for r in merge_tile_map(existing, fresh, invd).collect()}
    assert merged == {(5, 1, 1): "new", (5, 9, 9): "keep"}


def test_multimodal_stubs(spark):
    df = spark.range(10).select(
        F.col("id"),
        F.encode(F.format_string("payload-%d-%d", F.col("id"), F.col("id") * 7), "utf-8")
        .alias("blob"),
    )
    media = attach_media(df, "blob", "image", "image/fake")
    feats = image_features(media, deterministic_fake=True)
    rows = feats.collect()
    assert len(rows) == 10
    assert all(len(r.embedding) == 8 for r in rows)
    # deterministic across runs
    again = {r.media_id: r.mean_intensity for r in
             image_features(media, deterministic_fake=True).collect()}
    assert {r.media_id: r.mean_intensity for r in rows} == again
    # stub raises without the fake flag
    with pytest.raises(Exception):
        image_features(media, deterministic_fake=False).collect()

    resized = resize_images(media, 16, 16, deterministic_fake=True).first()
    assert resized.width == 16 and len(bytes(resized.payload)) == 16 * 16

    vids = media.withColumn("kind", F.lit("video")).withColumn(
        "duration_ms", F.lit(2500))
    frames = sample_frames(vids, every_ms=1000, deterministic_fake=True)
    assert frames.count() == 30  # 3 frames (0,1000,2000) x 10 videos


def test_stats_buckets_and_summary(spark):
    from mvt_oracle import encode_layer
    from sparktiles.functions import mvtcodec as C

    g = C.encode_geometry(C.GEOM_POINT, [np.array([[1, 2]])])
    blob = encode_layer("place", [(1, {"name": "x"}, C.GEOM_POINT, g)])
    imgs = spark.createDataFrame(
        [("t1", bytearray(blob)), ("t2", bytearray(b""))],
        "tile_id string, tile_data binary")
    s = tile_summary(imgs).collect()
    assert len(s) == 1 and s[0].layer == "place" and s[0].n_points == 1

    sizes = spark.range(100).select((F.col("id") * 10).alias("size"))
    b = size_buckets(sizes, "size", buckets=10)
    assert b.count() == 10
    assert b.agg(F.sum("cnt")).first()[0] == 100


# --------------------------------------------------------------- SPTX codec

def test_sptx_roundtrip_and_decode():
    import numpy as np
    from sparktiles.operators import multimodal as M

    img = (np.arange(8 * 6 * 3) % 256).astype(np.uint8).reshape(6, 8, 3)
    blob = M.encode_sptx(img)
    assert blob[:4] == b"SPTX" and len(blob) == 9 + 6 * 8 * 3
    back = M.decode_sptx(blob)
    assert (back == img).all() and back.shape == (6, 8, 3)
    with pytest.raises(ValueError, match="truncated"):
        M.decode_sptx(blob[:-1])
    with pytest.raises(ValueError, match="not an SPTX"):
        M.decode_sptx(b"JPEG" + blob[4:])


def test_sptx_resize_real(spark):
    import numpy as np
    from sparktiles.operators import multimodal as M

    img = (np.arange(64) % 256).astype(np.uint8).reshape(8, 8)
    rows = [(1, "image", "image/x-sptx", 8, 8, None,
             bytearray(M.encode_sptx(img)))]
    media = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    out = M.resize_images(media, width=4, height=4).collect()
    got = M.decode_sptx(bytes(out[0]["payload"]))
    # nearest-neighbor with ri = (arange(4)*8)//4 = [0,2,4,6]
    exp = img[[0, 2, 4, 6]][:, [0, 2, 4, 6]][:, :, None]
    assert (got == exp).all()
    assert out[0]["width"] == 4 and out[0]["height"] == 4


def test_sptv_frame_sampling_real(spark):
    import numpy as np
    from sparktiles.operators import multimodal as M

    frames = [np.full((4, 4), i * 10, dtype=np.uint8) for i in range(6)]
    blob = M.encode_sptv(frames, frame_ms=500)
    rows = [(7, "video", "video/x-sptv", 4, 4, 3000, bytearray(blob))]
    media = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    out = sorted(M.sample_frames(media, every_ms=1000).collect(),
                 key=lambda r: r["frame_idx"])
    # every_ms 1000 / frame_ms 500 -> every 2nd frame: 0, 2, 4
    assert [r["ts_ms"] for r in out] == [0, 1000, 2000]
    for r, fi in zip(out, (0, 2, 4)):
        assert (M.decode_sptv(blob)[0][fi]
                == M.decode_sptx(bytes(r["frame_payload"]))).all()


def test_make_sptx_media_formula_pixels(spark):
    import numpy as np
    from sparktiles.operators import multimodal as M

    d = spark.createDataFrame([(3,), (11,)], "doc_id long")
    rows = {r["media_id"]: bytes(r["payload"])
            for r in M.make_sptx_media(d).collect()}
    for mid, blob in rows.items():
        img = M.decode_sptx(blob)
        exp = ((mid * 31 + np.arange(64) * 7) % 256).reshape(8, 8, 1)
        assert (img == exp).all()
