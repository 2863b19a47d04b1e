"""Decode the reference's REAL OSM tile fixture with our MVT decoder
and check against its golden dump.

Fixture: /root/reference/tests/http/osm_13_4388_2568.mvt (a real
OpenMapTiles z13 tile of Copenhagen-area OSM data); golden:
/root/reference/tests/expected/debug_mvt_dump.out. This validates the
decoder against bytes produced by PostGIS ST_AsMVT — full wire-format
interop, not just self-round-trips.
"""

import os

import pytest

from mvt_oracle import encode_layer
from sparktiles.functions import mvtcodec as C

FIXTURE = "/root/reference/tests/http/osm_13_4388_2568.mvt"

pytestmark = pytest.mark.skipif(
    not os.path.exists(FIXTURE), reason="reference fixture not available")


@pytest.fixture(scope="module")
def tile():
    with open(FIXTURE, "rb") as f:
        return C.decode_tile(f.read())


def test_layer_inventory(tile):
    # golden: 3 layers — water (1), transportation (11), transportation_name (2)
    assert set(tile) == {"water", "transportation", "transportation_name"}
    assert len(tile["water"]["features"]) == 1
    assert len(tile["transportation"]["features"]) == 11
    assert len(tile["transportation_name"]["features"]) == 2
    for lyr in tile.values():
        assert lyr["extent"] == 4096 and lyr["version"] == 2


def test_water_feature(tile):
    f = tile["water"]["features"][0]
    assert f["type"] == C.GEOM_POLYGON
    assert f["attrs"]["class"] == "ocean"


def test_transportation_attrs(tile):
    feats = tile["transportation"]["features"]
    classes = [f["attrs"].get("class") for f in feats]
    assert classes.count("rail") == 6
    assert classes.count("motorway") == 4
    assert classes.count("bridge") == 1
    # golden: motorways oneway=1, surface paved, brunnel bridge
    for f in feats:
        if f["attrs"].get("class") == "motorway":
            assert f["attrs"]["oneway"] == 1
            assert f["attrs"]["surface"] == "paved"
            assert f["attrs"]["brunnel"] == "bridge"
            assert f["type"] == C.GEOM_LINESTRING
        if f["attrs"].get("class") == "rail":
            assert f["attrs"]["subclass"] == "rail"
            assert f["attrs"]["layer"] == 1
    poly = [f for f in feats if f["type"] == C.GEOM_POLYGON]
    assert len(poly) == 1 and poly[0]["attrs"]["class"] == "bridge"


def test_transportation_name_attrs(tile):
    feats = tile["transportation_name"]["features"]
    for f in feats:
        assert f["attrs"]["ref"] == "E 20"
        assert f["attrs"]["ref_length"] == 4
        assert f["attrs"]["network"] == "road"
        assert f["attrs"]["class"] == "motorway"
        assert f["type"] == C.GEOM_LINESTRING


def test_reencode_roundtrip(tile):
    """Re-encode the decoded reference tile with OUR encoder and decode
    again: content must survive (codec closure over real-world data)."""
    blobs = []
    for name, lyr in tile.items():
        feats = []
        for f in lyr["features"]:
            parts = f["parts"]
            if f["type"] == C.GEOM_POLYGON:
                geom = C.encode_geometry(C.GEOM_POLYGON, parts)
            elif f["type"] == C.GEOM_LINESTRING:
                geom = C.encode_geometry(C.GEOM_LINESTRING, parts)
            else:
                geom = C.encode_geometry(C.GEOM_POINT, parts)
            feats.append((f["id"], f["attrs"], f["type"], geom))
        blobs.append(encode_layer(name, feats, lyr["extent"]))
    rt = C.decode_tile(b"".join(blobs))
    assert set(rt) == set(tile)
    for name in tile:
        a, b = tile[name]["features"], rt[name]["features"]
        assert len(a) == len(b)
        for fa, fb in zip(a, b):
            assert fa["attrs"] == fb["attrs"]
            assert fa["type"] == fb["type"]
            assert all((pa == pb).all() for pa, pb in zip(fa["parts"], fb["parts"]))
