"""Supercover tile-cover properties (functions/tilecover.py).

Contract: for any geometry, zoom and buffer, the supercover candidate
set (a) contains every tile where the exact MVT clip keeps geometry
(superset / dilation guarantee — a missed tile would silently drop
features from the build), and (b) is contained in the bbox-explode
candidate set modulo boundary-touch inclusivity (the supercover is the
tighter over-approximation). Random lines / polygons-with-holes /
multipoints, seeded.
"""

import numpy as np
import pytest

from sparktiles.functions import geom as G
from sparktiles.functions.tilecover import cover_cells_zoom
from sparktiles.functions.tilemath import HALF_WORLD, WORLD_MERC_WIDTH
from sparktiles.functions.vecmvt import decode_wkb_batch, wkb_row_fields_vec

HALF = HALF_WORLD


def _bbox_tiles(coords_list, z, bf):
    """Scalar bbox-explode reference (assign_bbox_tiles semantics:
    floor with clamped ranges, margin in tile units = bf)."""
    all_pts = np.vstack(coords_list)
    n = 2.0 ** z
    top = (1 << z) - 1
    fx = (all_pts[:, 0] + HALF) / WORLD_MERC_WIDTH * n
    fy = (HALF - all_pts[:, 1]) / WORLD_MERC_WIDTH * n
    x0 = int(np.clip(np.floor(fx.min() - bf), 0, top))
    x1 = int(np.clip(np.floor(fx.max() + bf), 0, top))
    y0 = int(np.clip(np.floor(fy.min() - bf), 0, top))
    y1 = int(np.clip(np.floor(fy.max() + bf), 0, top))
    return {(x, y) for x in range(x0, x1 + 1) for y in range(y0, y1 + 1)}


def _survivors(wkb, z, tiles, extent, mvt_buffer):
    """Tiles (from `tiles`) where the exact vectorized clip keeps any
    geometry — the ground truth the candidates must cover."""
    if not tiles:
        return set()
    tl = sorted(tiles)
    blobs = np.array([wkb] * len(tl), dtype=object)
    zs = np.full(len(tl), z, dtype=np.int64)
    xs = np.array([t[0] for t in tl], dtype=np.int64)
    ys = np.array([t[1] for t in tl], dtype=np.int64)
    gf, _ = wkb_row_fields_vec(blobs, zs, xs, ys, extent, mvt_buffer)
    return {t for t, f in zip(tl, gf) if f is not None}


def _cover(wkb, z, bf):
    pt, ln, pg = decode_wkb_batch(np.array([wkb], dtype=object))
    r, cx, cy = cover_cells_zoom(pt, ln, pg, z, bf)
    assert (r == 0).all()
    return set(zip(cx.tolist(), cy.tolist()))


def _rand_line(rng, span):
    npts = rng.integers(2, 8)
    start = rng.uniform(-HALF * 0.8, HALF * 0.8, size=2)
    steps = rng.uniform(-span, span, size=(npts - 1, 2))
    return ("LineString", np.vstack([start, start + np.cumsum(steps, axis=0)]))


def _rand_poly(rng, span, with_hole):
    cx0, cy0 = rng.uniform(-HALF * 0.7, HALF * 0.7, size=2)
    nv = int(rng.integers(4, 10))
    ang = np.sort(rng.uniform(0, 2 * np.pi, size=nv))
    rad = rng.uniform(span * 0.3, span, size=nv)
    shell = np.stack([cx0 + rad * np.cos(ang), cy0 + rad * np.sin(ang)], axis=1)
    shell = np.vstack([shell, shell[:1]])
    rings = [shell]
    if with_hole:
        hrad = rad.min() * 0.4
        hang = np.sort(rng.uniform(0, 2 * np.pi, size=5))
        hole = np.stack([cx0 + hrad * np.cos(hang),
                         cy0 + hrad * np.sin(hang)], axis=1)[::-1]
        rings.append(np.vstack([hole, hole[:1]]))
    return ("Polygon", rings)


def _coords_of(geom):
    gtype, coords = geom
    if gtype == "LineString":
        return [coords]
    if gtype == "Polygon":
        return list(coords)
    if gtype == "MultiPoint":
        return [np.asarray(coords, dtype=float)]
    raise AssertionError(gtype)


CASES = []
_rng = np.random.default_rng(421)
for i in range(60):
    span = float(_rng.choice([HALF / 400, HALF / 40, HALF / 6]))
    kind = i % 4
    if kind == 0:
        g = _rand_line(_rng, span)
    elif kind == 1:
        g = _rand_poly(_rng, span, with_hole=False)
    elif kind == 2:
        g = _rand_poly(_rng, span, with_hole=True)
    else:
        pts = _rng.uniform(-HALF * 0.8, HALF * 0.8, size=(int(_rng.integers(1, 5)), 2))
        g = ("MultiPoint", pts)
    CASES.append((i, g, int(_rng.choice([0, 3, 6, 9])),
                  float(_rng.choice([0.0, 4.0, 16.0]))))


@pytest.mark.parametrize("i,geom,z,buffer_px", CASES,
                         ids=[f"case{i}" for i, *_ in CASES])
def test_supercover_superset_of_survivors(i, geom, z, buffer_px):
    extent = 4096
    bf = buffer_px / 256.0
    mvt_buffer = int(extent * buffer_px / 256)
    wkb = G.wkb_dumps(geom, srid=3857)
    cover = _cover(wkb, z, bf)
    bbox = _bbox_tiles(_coords_of(geom), z, bf)
    surv = _survivors(wkb, z, bbox, extent, mvt_buffer)
    missed = surv - cover
    assert not missed, (
        f"supercover missed survivor tiles {sorted(missed)[:5]} "
        f"(z={z}, buf={buffer_px}, geom={geom[0]})")
    # tightness: never worse than bbox (allow boundary-touch extras:
    # supercover uses inclusive bounds, bbox-floor is exclusive)
    extra = cover - bbox
    for (x, y) in extra:
        nb = {(x + dx, y + dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)}
        assert nb & bbox, f"cover cell {(x, y)} far outside bbox candidates"


def test_supercover_much_tighter_than_bbox_on_diagonal():
    """The motivating case: a long diagonal line's bbox covers O(n^2)
    tiles; the supercover O(n)."""
    z, bf = 8, 4.0 / 256.0
    line = ("LineString", np.array(
        [[-HALF * 0.8, -HALF * 0.8], [HALF * 0.8, HALF * 0.75]]))
    wkb = G.wkb_dumps(line, srid=3857)
    cover = _cover(wkb, z, bf)
    bbox = _bbox_tiles(_coords_of(line), z, bf)
    surv = _survivors(wkb, z, bbox, 4096, 64)
    assert surv <= cover
    assert len(cover) <= 3 * len(surv)
    assert len(cover) < len(bbox) / 20


def test_supercover_polygon_interior_and_hole_fill():
    """A tile strictly inside the shell — and one strictly inside a
    hole — must both be candidates (both survive the exact clip: shell
    and hole each clip to the full tile square)."""
    z = 6
    n = 2.0 ** z
    ts = WORLD_MERC_WIDTH / n  # tile size
    # square shell spanning ~6x6 tiles, hole spanning ~2x2 in middle
    cx, cy = 3.2 * ts, 1.7 * ts
    shell = np.array([[cx - 3 * ts, cy - 3 * ts], [cx + 3 * ts, cy - 3 * ts],
                      [cx + 3 * ts, cy + 3 * ts], [cx - 3 * ts, cy + 3 * ts],
                      [cx - 3 * ts, cy - 3 * ts]])
    hole = np.array([[cx - 1.4 * ts, cy - 1.4 * ts], [cx - 1.4 * ts, cy + 1.4 * ts],
                     [cx + 1.4 * ts, cy + 1.4 * ts], [cx + 1.4 * ts, cy - 1.4 * ts],
                     [cx - 1.4 * ts, cy - 1.4 * ts]])
    geom = ("Polygon", [shell, hole])
    wkb = G.wkb_dumps(geom, srid=3857)
    cover = _cover(wkb, z, 0.0)
    bbox = _bbox_tiles([shell], z, 0.0)
    surv = _survivors(wkb, z, bbox, 4096, 0)
    assert surv, "expected non-empty survivor set"
    assert surv <= cover
    # the hole's central tile is in the survivor set (square-with-
    # square-hole geometry) and hence must be covered
    fx = (cx + HALF) / WORLD_MERC_WIDTH * n
    fy = (HALF - cy) / WORLD_MERC_WIDTH * n
    center = (int(fx), int(fy))
    assert center in surv and center in cover


def test_supercover_build_byte_parity_with_bbox(spark):
    """End-to-end equivalence: encoding a WKB layer from supercover
    candidates produces byte-identical tiles to the bbox-explode
    candidates (both are supersets of the survivor set; the exact clip
    makes the outputs equal). Lines + polygons, z0-5, 4px buffer."""
    from pyspark.sql import functions as F

    from sparktiles.operators.joins import polygons_with_bounds
    from sparktiles.operators.mvt import LayerSpec, encode_and_assemble_single
    from sparktiles.operators.pyramid import (
        assign_bbox_tiles_multi,
        assign_supercover_tiles_multi,
    )
    from sparktiles.sources.lines import generate_lines
    from sparktiles.sources.polygons import generate_polygons

    frames = [
        ("transportation", {"class": "string", "name": "string"},
         generate_lines(spark, n=48).withColumnRenamed("line_id", "feature_id")),
        ("boundary", {"admin_class": "string", "name": "string"},
         generate_polygons(spark, n_grid=6).withColumnRenamed(
             "poly_id", "feature_id")),
    ]
    for layer_id, attrs, feats in frames:
        spec = LayerSpec(layer_id=layer_id, index=0, attr_fields=attrs,
                         key_field="feature_id", buffer_px=4,
                         geometry_kind="wkb")
        sc = assign_supercover_tiles_multi(feats, 0, 5, buffer_px=4)
        bb = assign_bbox_tiles_multi(
            polygons_with_bounds(feats, "geom"), 0, 5, buffer_px=4)
        out_sc = {(r.z, r.x, r.y): bytes(r.mvt) for r in
                  encode_and_assemble_single(sc, spec, None).collect()}
        out_bb = {(r.z, r.x, r.y): bytes(r.mvt) for r in
                  encode_and_assemble_single(bb, spec, None).collect()}
        assert out_sc == out_bb, layer_id
        assert out_sc, layer_id
        # candidate economy: supercover emits no more rows than bbox
        n_sc = sc.count()
        n_bb = bb.count()
        assert n_sc <= n_bb, (layer_id, n_sc, n_bb)


def test_supercover_multipoint_not_connected():
    """Two far-apart points: the supercover must NOT include the tiles
    between them (points are not segments)."""
    z = 6
    pts = np.array([[-HALF * 0.5, 0.0], [HALF * 0.5, 0.0]])
    wkb = G.wkb_dumps(("MultiPoint", pts), srid=3857)
    cover = _cover(wkb, z, 0.0)
    assert len(cover) <= 8  # 2 cells (+ boundary-touch dilation at most)
    n = 2.0 ** z
    mid = (int((0.0 + HALF) / WORLD_MERC_WIDTH * n),
           int((HALF - 0.0) / WORLD_MERC_WIDTH * n))
    assert mid not in cover


@pytest.mark.parametrize("z", [12, 14])
def test_supercover_deep_zoom_superset(z):
    """Production zooms (the reference's default is z14): superset of
    exact clip survivors must hold where cell counts are large and the
    int64 dedup packing uses 2*z bits."""
    rng = np.random.default_rng(z * 101)
    n = 2.0 ** z
    ts = WORLD_MERC_WIDTH / n
    for trial in range(6):
        cx, cy = rng.uniform(-HALF * 0.6, HALF * 0.6, size=2)
        kind = trial % 3
        if kind == 0:  # diagonal line spanning ~30 tiles
            g = ("LineString", np.array(
                [[cx, cy], [cx + 30 * ts, cy + 22 * ts], [cx + 31 * ts, cy]]))
        elif kind == 1:  # thin sliver polygon across ~20 columns
            ring = np.array([[cx, cy], [cx + 20 * ts, cy + 15 * ts],
                             [cx + 20 * ts, cy + 15.3 * ts],
                             [cx, cy + 0.3 * ts], [cx, cy]])
            g = ("Polygon", [ring])
        else:  # multipoint scatter
            g = ("MultiPoint", np.stack(
                [cx + rng.uniform(0, 25, 4) * ts,
                 cy + rng.uniform(0, 25, 4) * ts], axis=1))
        wkb = G.wkb_dumps(g, srid=3857)
        bf = 4.0 / 256.0
        cover = _cover(wkb, z, bf)
        bbox = _bbox_tiles(_coords_of(g), z, bf)
        surv = _survivors(wkb, z, bbox, 4096, 64)
        assert surv, (z, trial)
        assert surv <= cover, (z, trial, sorted(surv - cover)[:4])
        assert len(cover) <= len(bbox)


def test_fused_supercover_encode_byte_parity(spark):
    """The fused one-stage supercover-assign+encode must emit exactly
    the tiles of the two-stage path (assign DataFrame -> encode stage)
    for lines and polygons."""
    from sparktiles.operators.mvt import LayerSpec, encode_and_assemble_single
    from sparktiles.operators.pyramid import assign_supercover_tiles_multi
    from sparktiles.sources.lines import generate_lines
    from sparktiles.sources.polygons import generate_polygons

    frames = [
        ("transportation", {"class": "string", "name": "string"},
         generate_lines(spark, n=48).withColumnRenamed("line_id", "feature_id")),
        ("boundary", {"admin_class": "string", "name": "string"},
         generate_polygons(spark, n_grid=6).withColumnRenamed(
             "poly_id", "feature_id")),
    ]
    for layer_id, attrs, feats in frames:
        spec = LayerSpec(layer_id=layer_id, index=0, attr_fields=attrs,
                         key_field="feature_id", buffer_px=4,
                         geometry_kind="wkb")
        fused = {(r.z, r.x, r.y): bytes(r.mvt) for r in
                 encode_and_assemble_single(
                     feats, spec, None, zoom_range=(0, 5)).collect()}
        asg = assign_supercover_tiles_multi(feats, 0, 5, buffer_px=4)
        two = {(r.z, r.x, r.y): bytes(r.mvt) for r in
               encode_and_assemble_single(asg, spec, None).collect()}
        assert fused == two, layer_id
        assert fused, layer_id


def test_fused_supercover_chunked_cap_parity(spark, monkeypatch):
    """A tiny FUSED_CANDIDATE_CAP forces many mid-zoom chunks; the
    normalized rows must be identical to the unchunked stage (memory cap
    changes batching only, never bytes — ADVICE r4 deep-zoom fan-out
    bound)."""
    from sparktiles.operators import mvt
    from sparktiles.operators.mvt import LayerSpec, normalize_layer_df
    from sparktiles.sources.lines import generate_lines

    lines = generate_lines(spark, n=24).withColumnRenamed(
        "line_id", "feature_id")
    spec = LayerSpec(layer_id="transportation", index=0,
                     attr_fields={"class": "string"}, key_field="feature_id",
                     buffer_px=4, geometry_kind="wkb")

    def rows(cap):
        if cap is not None:
            monkeypatch.setattr(mvt, "FUSED_CANDIDATE_CAP", cap)
        df = normalize_layer_df(lines, spec, zoom_range=(0, 7))
        return sorted(
            (r.zxy, r._sk, bytes(r._fidf), int(r._gt), bytes(r._geomf))
            for r in df.collect())

    base = rows(None)
    assert base == rows(17)
    assert base == rows(1)
    assert len(base) > 500
