"""MVT codec + asmvtgeom round-trip tests (decoder mirrors the
semantics of reference openmaptiles/utils.py:294-373 print_tile)."""

import hashlib

import numpy as np
import pytest

from mvt_oracle import (
    as_mvt_geom,
    as_mvt_geom_points,
    encode_layer,
    encode_layer_columnar,
    encode_point_geoms,
)
from sparktiles.functions import geom as G
from sparktiles.functions import mvtcodec as C
from sparktiles.functions.tilemath import tile_bbox
from sparktiles.functions.vecmvt import fid_fields_vec


def test_varint_zigzag():
    assert C._varint(0) == b"\x00"
    assert C._varint(300) == b"\xac\x02"
    assert C._zigzag(0) == 0 and C._zigzag(-1) == 1 and C._zigzag(1) == 2
    assert C._unzigzag(C._zigzag(-12345)) == -12345


def test_value_roundtrip():
    for v in ["hello", 42, -7, 3.5, True, False, ""]:
        got = C.decode_value(C.encode_value(v))
        assert got == v and type(got) is type(v)


def test_layer_roundtrip_point():
    geom = C.encode_geometry(C.GEOM_POINT, [np.array([[100, 200]])])
    blob = encode_layer(
        "place", [(7, {"name": "X", "rank": 3}, C.GEOM_POINT, geom)], 4096
    )
    tile = C.decode_tile(blob)
    lyr = tile["place"]
    assert lyr["version"] == 2 and lyr["extent"] == 4096
    f = lyr["features"][0]
    assert f["id"] == 7 and f["attrs"] == {"name": "X", "rank": 3}
    assert f["type"] == C.GEOM_POINT
    assert f["parts"][0].tolist() == [[100, 200]]


def test_layer_dictionary_encoding_first_seen():
    g = C.encode_geometry(C.GEOM_POINT, [np.array([[0, 0]])])
    feats = [
        (1, {"a": "x", "b": "y"}, C.GEOM_POINT, g),
        (2, {"b": "y", "a": "z"}, C.GEOM_POINT, g),
    ]
    blob = encode_layer("l", feats)
    t = C.decode_tile(blob)["l"]
    assert t["features"][0]["attrs"] == {"a": "x", "b": "y"}
    assert t["features"][1]["attrs"] == {"b": "y", "a": "z"}
    # deterministic bytes
    assert hashlib.md5(blob).hexdigest() == hashlib.md5(encode_layer("l", feats)).hexdigest()


def test_geometry_roundtrip_polygon():
    ring = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]])
    enc = C.encode_geometry(C.GEOM_POLYGON, [ring])
    parts = C.decode_geometry(C.GEOM_POLYGON, enc)
    assert len(parts) == 1
    assert parts[0].tolist() == ring.tolist()


def test_geometry_roundtrip_multiline():
    l1 = np.array([[0, 0], [5, 5]])
    l2 = np.array([[10, 10], [20, 10], [20, 20]])
    enc = C.encode_geometry(C.GEOM_LINESTRING, [l1, l2])
    parts = C.decode_geometry(C.GEOM_LINESTRING, enc)
    assert [p.tolist() for p in parts] == [l1.tolist(), l2.tolist()]


def test_gzip_roundtrip():
    data = b"sparktiles" * 100
    gz = C.gzip_blob(data, 6)
    assert gz[:2] == b"\x1f\x8b"
    assert C.gunzip_blob(gz) == data


def test_as_mvt_geom_points():
    # center of tile z1 (1,0): bbox x in [0, max], y in [0, max]
    xmin, ymin, xmax, ymax = tile_bbox(1, 1, 0)
    cx, cy = (xmin + xmax) / 2, (ymin + ymax) / 2
    ix, iy, keep = as_mvt_geom_points(
        np.array([cx, xmin - 1e7]), np.array([cy, cy]), 1, 1, 0, 4096, 0
    )
    assert keep.tolist() == [True, False]
    assert ix[0] == 2048 and iy[0] == 2048


def test_as_mvt_geom_polygon_clip_and_winding():
    # polygon covering the whole right half of tile z0 + spill: clipped
    xmin, ymin, xmax, ymax = tile_bbox(0, 0, 0)
    w = xmax - xmin
    poly = ("Polygon", [np.array([
        [xmin + w / 2, ymin - w], [xmax + w, ymin - w],
        [xmax + w, ymax + w], [xmin + w / 2, ymax + w],
        [xmin + w / 2, ymin - w]], dtype=float)])
    out = as_mvt_geom(poly, 0, 0, 0, 4096, 0)
    assert out is not None and out[0] == C.GEOM_POLYGON
    ring = out[1][0].astype(float)
    # surveyor area positive (exterior), covers right half of extent
    assert G.ring_area(ring) == pytest.approx(4096 * 4096 / 2, rel=1e-6) or \
        G.ring_area(ring) == pytest.approx(2048 * 4096, rel=1e-6)
    assert G.ring_area(ring) > 0
    assert ring[:, 0].min() == 2048 and ring[:, 0].max() == 4096


def test_as_mvt_geom_outside_returns_none():
    xmin, ymin, xmax, ymax = tile_bbox(2, 0, 0)
    far = ("Polygon", [np.array([
        [xmax + 1e6, ymax + 1e6], [xmax + 2e6, ymax + 1e6],
        [xmax + 2e6, ymax + 2e6], [xmax + 1e6, ymax + 1e6]], dtype=float)])
    assert as_mvt_geom(far, 2, 0, 0) is None


def test_as_mvt_geom_buffer():
    # a point just outside the tile is kept when buffer allows
    xmin, ymin, xmax, ymax = tile_bbox(5, 10, 10)
    eps = (xmax - xmin) * 0.005  # ~20 extent units outside
    _, _, keep0 = as_mvt_geom_points(
        np.array([xmin - eps]), np.array([(ymin + ymax) / 2]), 5, 10, 10, 4096, 0)
    _, _, keep64 = as_mvt_geom_points(
        np.array([xmin - eps]), np.array([(ymin + ymax) / 2]), 5, 10, 10, 4096, 64)
    assert keep0.tolist() == [False]
    assert keep64.tolist() == [True]


def test_single_layer_matches_oracle(spark):
    from pyspark.sql import functions as F

    from mvt_oracle import oracle_tiles
    from sparktiles.operators.mvt import LayerSpec, encode_and_assemble_single

    feats = spark.range(3000).select(
        (F.col("id") % 3).cast("int").alias("z"),
        (F.col("id") % 5).cast("long").alias("x"),
        (F.col("id") % 7).cast("long").alias("y"),
        F.col("id").alias("feature_id"),
        ((F.col("id") % 4096)).cast("double").alias("px"),
        ((F.col("id") * 7 % 4096)).cast("double").alias("py"),
        F.format_string("n%d", F.col("id")).alias("name"),
    )
    spec = LayerSpec(layer_id="place", index=0,
                     attr_fields={"name": "string"}, key_field="feature_id")
    rows = feats.collect()
    for gz in (None, 6):
        one = {(r.z, r.x, r.y): (bytes(r.mvt), r.tile_id) for r in
               encode_and_assemble_single(feats, spec, gz).collect()}
        assert one == oracle_tiles([(spec, rows)], gz) and one


def _python_stages_vs_exchange(df):
    """(python nodes above the first Exchange, python nodes below it,
    number of Exchanges) in df's formatted physical plan tree."""
    import contextlib
    import io
    import re

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    tree = plan[:plan.index("\n\n(1)")]
    lines = tree.splitlines()
    py = re.compile(r"MapInPandas|MapInArrow|ArrowEvalPython|BatchEvalPython"
                    r"|FlatMapGroupsInPandas")
    ex = [i for i, ln in enumerate(lines) if "Exchange" in ln]
    assert ex, plan
    above = [ln for ln in lines[:ex[0]] if py.search(ln)]
    below = [ln for ln in lines[ex[0]:] if py.search(ln)]
    return above, below, len(ex)


def test_single_point_layer_python_after_exchange(spark, tmp_path):
    """A JVM-assigned point layer crosses into Python once, AFTER the
    zxy exchange: encode_and_assemble_single runs the point normalizer
    as the grouped pass's batch hook, and so does build_fast's phase 1
    for a single point layer (TileBuild._build_tiles)."""
    from pyspark.sql import functions as F

    from sparktiles.operators.mvt import LayerSpec, encode_and_assemble_single
    from sparktiles.operators.pyramid import assign_point_tiles_multi
    from sparktiles.plans.pipeline import BuildConfig, TileBuild

    feats = spark.range(500).select(
        F.col("id").alias("feature_id"),
        ((F.col("id") * 7919 % 10007) * 3000.0 - 1.5e7).alias("px"),
        ((F.col("id") * 104729 % 10009) * 2000.0 - 1.0e7).alias("py"),
        F.format_string("n%d", F.col("id")).alias("name"),
        (F.col("id") % 13).cast("double").alias("imp"))
    plain = LayerSpec(layer_id="place", index=0,
                      attr_fields={"name": "string"}, buffer_px=8)
    keycap = LayerSpec(layer_id="place", index=0,
                       attr_fields={"name": "string"}, buffer_px=8,
                       max_features_per_tile=3)
    impcap = LayerSpec(layer_id="place", index=0,
                       attr_fields={"name": "string"}, buffer_px=8,
                       max_features_per_tile=3, importance_col="imp")
    assigned = assign_point_tiles_multi(feats, 0, 4, buffer_px=8)
    for spec in (plain, keycap, impcap):
        tiles = encode_and_assemble_single(assigned, spec, 6)
        above, below, n_ex = _python_stages_vs_exchange(tiles)
        assert len(above) == 1 and not below and n_ex == 1, spec
        assert tiles.count() > 50

    b = TileBuild(spark, [(plain, feats)], BuildConfig(
        store_dir=str(tmp_path / "s"), minzoom=0, maxzoom=4,
        gzip_level=6))
    above, below, n_ex = _python_stages_vs_exchange(b._build_tiles((0, 4)))
    assert len(above) == 1 and not below and n_ex == 1


def test_point_encoder_paths_byte_identical():
    """frame_layer (the one function that frames MVT layer messages
    from per-row wire pieces) must produce the bytes of the scalar
    columnar encoder on randomized tiles incl. None attrs, cross-type
    hash collisions (True vs 1), negative fids, empty strings, and a
    row range [s, e) inside a larger batch."""
    import random

    import numpy as np

    from sparktiles.functions import mvtcodec as C
    from sparktiles.operators.mvt import frame_layer

    rng = random.Random(1234)
    np_rng = np.random.RandomState(1234)
    for trial in range(80):
        n = rng.randint(1, 40)
        pre, post = rng.randint(0, 5), rng.randint(0, 5)
        m = pre + n + post
        ix = np_rng.randint(-130, 4230, m).astype(np.int64)
        iy = np_rng.randint(-130, 4230, m).astype(np.int64)
        fids = (np_rng.randint(-2**63, 2**63 - 1, m, dtype=np.int64)
                if rng.random() < 0.8 else None)
        A = rng.randint(0, 4)
        attr_cols = []
        for a in range(A):
            kind = rng.choice(["string", "number", "bool"])
            col = []
            for _ in range(m):
                r = rng.random()
                if r < 0.2:
                    col.append(None)
                elif kind == "string":
                    col.append(rng.choice(["x", "", f"N{rng.randint(0, 5)}", "1"]))
                elif kind == "number":
                    col.append(rng.choice([1, 0, 7.5, -3, 2**40]))
                else:
                    col.append(rng.choice([True, False]))
            attr_cols.append((f"k{a}", col))
        sl = slice(pre, pre + n)
        want = encode_layer_columnar(
            "L", fids[sl].tolist() if fids is not None else None,
            C.GEOM_POINT, encode_point_geoms(ix[sl], iy[sl]),
            [(k, col[sl]) for k, col in attr_cols], 4096)
        ff = fid_fields_vec(fids) if fids is not None else None
        gf = C.point_row_fields_vec(ix, iy)
        vcols = [[None if v is None else C.encode_value(v) for v in col]
                 for _k, col in attr_cols]
        got = frame_layer(
            C.layer_frame_blobs("L", [k for k, _ in attr_cols], 4096),
            ff if ff is not None else [None] * m,
            np.full(m, C.GEOM_POINT, dtype=np.int8), gf, vcols,
            pre, pre + n)
        assert want == got, f"frame_layer diverged (trial {trial})"
    # decode sanity on the last tile
    dec = C.decode_tile(want)
    assert len(dec["L"]["features"]) == n


def test_attr_convert_batch_fuzz_parity():
    """_attr_convert_batch (the per-batch vectorized attribute
    converter) must match scalar _attr_value element-for-element AND
    type-for-type (int vs float changes the MVT value wire encoding)
    across every dtype the Arrow->pandas bridge produces: int64,
    float64-with-NaN, bool, object str|None, object bool|None, plus
    mixed-object fallbacks."""
    from sparktiles.operators.mvt import _attr_convert_batch, _attr_value

    rng = np.random.RandomState(99)

    def check(vals, kind):
        got = _attr_convert_batch(vals, kind).tolist()
        want = [_attr_value(v, kind) for v in vals.tolist()]
        assert len(got) == len(want)
        for g, w in zip(got, want):
            assert type(g) is type(w), (kind, vals.dtype, g, w)
            if isinstance(w, float):
                assert (g == w) or (np.isnan(g) and np.isnan(w))
            else:
                assert g == w, (kind, vals.dtype, g, w)

    n = 500
    # number: int64 / float64 incl NaN, -0.0, inf, 2**53 edges
    check(rng.randint(-2**40, 2**40, size=n), "number")
    # huge ints (|v| >= 2**53, e.g. xxhash64-derived ids) must stay
    # exact ints on BOTH paths — no silent float demotion (ADVICE r4)
    check(np.array([2**53, 2**53 + 1, -(2**53) - 3, 2**63 - 1, -2**63,
                    12345678901234567891 % 2**63], dtype=np.int64),
          "number")
    from sparktiles.operators.mvt import _attr_value as _av
    assert _av(2**53 + 1, "number") == 2**53 + 1
    assert type(_av(2**53 + 1, "number")) is int
    assert _av(float(2**53), "number") == float(2**53)
    assert type(_av(float(2**53), "number")) is float
    # ints OUTSIDE int64 (uint64 hash columns, python bigints) demote
    # to double_value on both paths — int_value is an int64 varint and
    # would silently wrap them (ADVICE r5)
    check(np.array([2**63, 2**64 - 1, 2**63 - 1, 5], dtype=np.uint64),
          "number")
    check(np.array([None, 2**63, -(2**63) - 1, 2**70, -(2**63), 7],
                   dtype=object), "number")
    assert _av(2**63, "number") == float(2**63)
    assert type(_av(2**63, "number")) is float
    assert _av(-(2**63), "number") == -(2**63)
    assert type(_av(-(2**63), "number")) is int
    from sparktiles.functions.mvtcodec import decode_value, encode_value
    assert decode_value(encode_value(_av(2**63, "number"))) == float(2**63)
    f = rng.randn(n) * 10 ** rng.randint(0, 12, size=n)
    f[::7] = np.nan
    f[::11] = np.rint(f[::11])
    f[0], f[1], f[2], f[3] = -0.0, np.inf, 2.0**53, 2.0**53 - 2
    check(f, "number")
    check(np.array([None, 1, 2.5, 4.0, None, 2**60], dtype=object), "number")
    # bool: plain + nullable-object
    check(rng.rand(n) > 0.5, "bool")
    check(np.array([True, None, False, True, None], dtype=object), "bool")
    check(np.array([1, 0, None, 2], dtype=object), "bool")
    # string: object str|None and numeric fallback
    s = np.array([rng.choice(["a", "", "N7", None]) for _ in range(n)],
                 dtype=object)
    check(s, "string")
    check(rng.randint(0, 100, size=20), "string")
