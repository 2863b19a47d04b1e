"""LineString (WKB) layer through the full tile build: clipping into
parts, snapping, per-zoom LineLabel gating — the transportation-layer
shape of the reference's real golden tile
(tests/http/osm_13_4388_2568.mvt / tests/expected/debug_mvt_dump.out).
"""

import math

import pytest
from pyspark.sql import functions as F

from mvt_oracle import as_mvt_geom
from sparktiles.functions import geom as G
from sparktiles.functions import mvtcodec as C
from sparktiles.functions import scalars as S
from sparktiles.operators.mvt import LayerSpec
from sparktiles.plans.pipeline import BuildConfig, TileBuild
from sparktiles.sources.lines import generate_lines

MAXZOOM = 4
BUF_PX = 4


@pytest.fixture(scope="module")
def lines(spark):
    return generate_lines(spark, n=64).withColumnRenamed(
        "line_id", "feature_id").cache()


@pytest.fixture(scope="module")
def line_build(spark, lines, tmp_path_factory):
    spec = LayerSpec(
        layer_id="transportation", index=0,
        attr_fields={"class": "string", "name": "string"},
        key_field="feature_id", buffer_px=BUF_PX, geometry_kind="wkb",
    )
    store = tmp_path_factory.mktemp("linestore")
    b = TileBuild(spark, [(spec, lines)], BuildConfig(
        store_dir=str(store), minzoom=0, maxzoom=MAXZOOM, mid_zoom=2))
    b.build_fast()
    return b


def test_line_pyramid_complete(spark, line_build):
    tm = line_build.read_tile_map()
    per_zoom = {r.zoom_level: r["c"] for r in
                tm.groupBy("zoom_level").agg(F.count("*").alias("c")).collect()}
    for z in range(MAXZOOM + 1):
        assert per_zoom[z] == 4**z


def test_line_tiles_decode_and_clip(spark, line_build):
    tm = line_build.read_tile_map()
    imgs = line_build.read_tile_images()
    rows = (
        tm.where(F.col("zoom_level") == MAXZOOM)
        .join(imgs, "tile_id")
        .where(F.length("tile_data") > 0)
        .collect()
    )
    assert rows, "no non-empty z4 tiles"
    extent, buf = 4096, 4096 * BUF_PX / 256
    checked = 0
    for r in rows[:40]:
        tile = C.decode_tile(bytes(r.tile_data))
        assert list(tile) == ["transportation"]
        for f in tile["transportation"]["features"]:
            assert f["type"] == C.GEOM_LINESTRING
            for part in f["parts"]:
                assert len(part) >= 2, "degenerate clipped part emitted"
                p = part.astype(float)
                assert p[:, 0].min() >= -buf - 1 and p[:, 0].max() <= extent + buf + 1
                assert p[:, 1].min() >= -buf - 1 and p[:, 1].max() <= extent + buf + 1
            assert f["attrs"]["class"] in (
                "motorway", "trunk", "primary", "secondary", "service")
            checked += 1
    assert checked > 10


def test_line_feature_tile_pairs_match_oracle(spark, lines, line_build):
    """Every (line, z4 tile) pair in the built output == the pairs where
    the line's clipped geometry survives as_mvt_geom (the reference's
    geometry && bbox candidate scan + ST_AsMVTGeom drop, re-derived
    feature-by-feature driver-side)."""
    tm = line_build.read_tile_map()
    imgs = line_build.read_tile_images()
    got = set()
    for r in tm.where(F.col("zoom_level") == MAXZOOM).join(imgs, "tile_id") \
            .where(F.length("tile_data") > 0).collect():
        tile = C.decode_tile(bytes(r.tile_data))
        for f in tile["transportation"]["features"]:
            got.add((f["id"], r.tile_column, r.tile_row))

    exp = set()
    n = 2**MAXZOOM
    mvt_buf = int(4096 * BUF_PX / 256)
    for row in lines.collect():
        g = G.wkb_loads(bytes(row.geom))
        for tx in range(n):
            for ty in range(n):
                if as_mvt_geom(g, MAXZOOM, tx, ty, 4096, mvt_buf) is not None:
                    exp.add((row.feature_id, tx, ty))
    assert got == exp


def _label_kept(z: int, name: str, length: float) -> bool:
    # python twin of LineLabel (sql/LineLabel.sql:18-34)
    if z > 20 or length == 0.0:
        return True
    return 1 <= len(name) <= length / 2.0 ** (20 - z)


def test_line_label_gating_per_zoom(spark, lines, tmp_path):
    """post_assign LineLabel gate: a road's labeled feature appears at a
    zoom only when its name fits the line's on-screen length — the
    per-zoom filter runs after the zoom explode (z is a column)."""
    spec = LayerSpec(
        layer_id="transportation_name", index=0,
        attr_fields={"name": "string"},
        key_field="feature_id", buffer_px=BUF_PX, geometry_kind="wkb",
        post_assign=lambda df: df.where(
            S.line_label(F.col("z"), "name", "length_merc")),
    )
    b = TileBuild(spark, [(spec, lines)], BuildConfig(
        store_dir=str(tmp_path / "gated"), minzoom=0, maxzoom=MAXZOOM,
        mid_zoom=MAXZOOM))
    b.build_fast()
    tm = b.read_tile_map()
    imgs = b.read_tile_images()
    meta = {r.feature_id: (r.name, r.length_merc) for r in lines.collect()}
    mvt_buf = int(4096 * BUF_PX / 256)

    got = {}  # zoom -> set of feature ids present anywhere
    for r in tm.join(imgs, "tile_id").where(F.length("tile_data") > 0).collect():
        tile = C.decode_tile(bytes(r.tile_data))
        for f in tile.get("transportation_name", {}).get("features", []):
            got.setdefault(r.zoom_level, set()).add(f["id"])

    for z in range(MAXZOOM + 1):
        n = 2**z
        exp = set()
        for row in lines.collect():
            name, length = meta[row.feature_id]
            if not _label_kept(z, name, length):
                continue
            g = G.wkb_loads(bytes(row.geom))
            if any(
                as_mvt_geom(g, z, tx, ty, 4096, mvt_buf) is not None
                for tx in range(n) for ty in range(n)
            ):
                exp.add(row.feature_id)
        assert got.get(z, set()) == exp, f"zoom {z} gating mismatch"
    # the gate actually bites: fewer label features at z0 than z4
    assert len(got.get(0, set())) < len(got.get(MAXZOOM, set()))
