"""Test oracle for the MVT encode (operators/mvt.py): the reference tile
query (sqltomvt.py:104-224: ST_AsMVTGeom + ST_AsMVT per layer, then
STRING_AGG ORDER BY layer index [+ gzip] + md5 per tile) run in plain
Python over collected, tile-assigned rows. Geometry goes through the
scalar as_mvt_geom / as_mvt_geom_points, values through the scalar
_attr_value, layers through C.encode_layer_columnar, so neither the
vectorized map-side stages nor the grouped kernel (frame_layer) are on
the oracle's path."""

import hashlib

import numpy as np

from sparktiles.functions import geom as G
from sparktiles.functions import mvtcodec as C
from sparktiles.operators.mvt import (
    _attr_value,
    as_mvt_geom,
    as_mvt_geom_points,
)


def _clip(spec, d, z, x, y):
    """(geometry type, command stream) of one assigned row in tile
    (z, x, y), or None when it clips away."""
    buf = int(spec.extent * spec.buffer_px / 256)
    if spec.geometry_kind == "point":
        ix, iy, keep = as_mvt_geom_points(
            np.array([d["px"]]), np.array([d["py"]]), z, x, y,
            spec.extent, buf)
        if not keep[0]:
            return None
        return C.GEOM_POINT, C.encode_point_geoms(ix, iy)[0]
    mg = as_mvt_geom(G.wkb_loads(bytes(d["geom"])), z, x, y,
                     spec.extent, buf)
    if mg is None:
        return None
    return mg[0], C.encode_geometry(mg[0], mg[1])


def _tiebreak(spec):
    """The cap's tie-break column: the key, else the last declared
    attr / importance column."""
    if spec.key_field:
        return spec.key_field
    cols = list(spec.attr_fields)
    if spec.importance_col and spec.importance_col not in cols:
        cols.append(spec.importance_col)
    return cols[-1] if cols else None


def _select(spec, feats):
    """Density cap (importance desc, then the tie-break; counted over
    clip survivors), then the encode order: by key for keyed layers,
    else the cap order, else input order."""
    cap, imp, tie = spec.max_features_per_tile, spec.importance_col, \
        _tiebreak(spec)
    if cap:
        def order(f):
            d = f[0]
            v = d[imp] if imp else None
            return ((v is None, -v if v is not None else 0),
                    d[tie] if tie else 0)
        feats = sorted(feats, key=order)[:cap]
    if spec.key_field:
        feats = sorted(feats, key=lambda f: f[0][spec.key_field])
    return feats


def _encode(spec, feats) -> bytes:
    fids = ([int(d[spec.key_field]) for d, _ in feats]
            if spec.key_field else None)
    attr_cols = [(k, [_attr_value(d[k], t) for d, _ in feats])
                 for k, t in spec.attr_fields.items()]
    return C.encode_layer_columnar(
        spec.layer_id, fids, [g[0] for _, g in feats],
        [g[1] for _, g in feats], attr_cols, spec.extent)


def oracle_tiles(layers, gzip_level=None):
    """{(z, x, y): (mvt, tile_id)} of every non-empty tile.

    layers: [(LayerSpec, rows)], rows = the layer's tile-ASSIGNED
    features (z, x, y, px/py or geom, key, attrs, importance) as
    collected Rows, in the frame's partition order (DataFrame.collect()):
    an uncapped keyless layer encodes its features in that order, as
    the engine's stable sort after the exchange does."""
    msgs: dict = {}
    for spec, rows in layers:
        by_tile: dict = {}
        for r in rows:
            d = r.asDict()
            t = (int(d["z"]), int(d["x"]), int(d["y"]))
            g = _clip(spec, d, *t)
            if g is not None:
                by_tile.setdefault(t, []).append((d, g))
        for t, feats in by_tile.items():
            msgs.setdefault(t, {})[spec.index] = _encode(
                spec, _select(spec, feats))
    out = {}
    for t, layer_msgs in msgs.items():
        blob = b"".join(layer_msgs[i] for i in sorted(layer_msgs))
        if gzip_level is not None:
            blob = C.gzip_blob(blob, gzip_level)
        out[t] = (blob, hashlib.md5(blob).hexdigest())
    return out
