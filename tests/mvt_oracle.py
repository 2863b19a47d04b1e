"""Test oracle for the MVT encode (operators/mvt.py): the reference tile
query (sqltomvt.py:104-224: ST_AsMVTGeom + ST_AsMVT per layer, then
STRING_AGG ORDER BY layer index [+ gzip] + md5 per tile) run in plain
Python over collected, tile-assigned rows. Geometry goes through the
scalar as_mvt_geom / as_mvt_geom_points, values through the scalar
_attr_value, layers through encode_layer_columnar, so neither the
vectorized map-side stages nor the grouped kernel (frame_layer) are on
the oracle's path. The layer encoders (encode_layer, encode_layer_columnar,
encode_feature, encode_point_geoms) are the reference codec the
codec tests use too; the library frames layers with frame_layer only."""

import hashlib

import numpy as np

from sparktiles.functions import geom as G
from sparktiles.functions import mvtcodec as C
from sparktiles.operators.mvt import (
    _attr_value,
    as_mvt_geom,
    as_mvt_geom_points,
)


# ------------------------------------------------------------ reference codec

def encode_feature(fid: int | None, tag_idx: list[int], gtype: int, geom: bytes) -> bytes:
    # field tags inlined (0x08/0x12/0x18/0x22 = fields 1,2,3,4)
    body = b""
    if fid is not None:
        body += b"\x08" + C._varint(int(fid))
    if tag_idx:
        packed = b"".join(C.varint_cached(t) for t in tag_idx)
        body += b"\x12" + C.varint_cached(len(packed)) + packed
    body += b"\x18" + C.varint_cached(gtype)
    body += b"\x22" + C.varint_cached(len(geom)) + geom
    return body


def encode_layer(
    name: str,
    features: list[tuple[int | None, dict, int, bytes]],
    extent: int = C.DEFAULT_EXTENT,
) -> bytes:
    """features: (feature_id, attrs dict, geom_type, encoded geometry).
    Keys/values dictionary-encoded in first-seen order (A1)."""
    keys: list[str] = []
    key_idx: dict[str, int] = {}
    values: list[bytes] = []
    value_idx: dict[bytes, int] = {}
    feat_blobs = []
    for fid, attrs, gtype, geom in features:
        tag_idx = []
        for k, v in attrs.items():
            if v is None:
                continue
            ki = key_idx.get(k)
            if ki is None:
                ki = key_idx[k] = len(keys)
                keys.append(k)
            ev = C.encode_value(v)
            vi = value_idx.get(ev)
            if vi is None:
                vi = value_idx[ev] = len(values)
                values.append(ev)
            tag_idx.extend((ki, vi))
        feat_blobs.append(C._len_field(2, encode_feature(fid, tag_idx, gtype, geom)))
    body = C._varint_field(15, 2)
    body += C._len_field(1, name.encode("utf-8"))
    body += b"".join(feat_blobs)
    body += b"".join(C._len_field(3, k.encode("utf-8")) for k in keys)
    body += b"".join(C._len_field(4, v) for v in values)
    body += C._varint_field(5, extent)
    return C._len_field(3, body)


def encode_layer_columnar(
    name: str,
    fids,
    gtypes,
    geoms: list[bytes],
    attr_cols: list[tuple[str, list]],
    extent: int = C.DEFAULT_EXTENT,
) -> bytes:
    """Columnar fast path for encode_layer: attributes arrive as
    parallel columns instead of per-feature dicts. Keys are dictionary-
    encoded in column order (stable), values first-seen in feature
    order; Nones skipped. ~3x less per-feature Python than the dict
    path — the oracle's layer encoder."""
    n = len(geoms)
    keys = [k for k, _ in attr_cols]
    values: list[bytes] = []
    value_idx: dict[bytes, int] = {}
    # memoize raw->index per column (values repeat heavily per tile)
    memos: list[dict] = [dict() for _ in attr_cols]
    feat_blobs = []
    for i in range(n):
        tag_idx: list[int] = []
        for ki, (kname, col) in enumerate(attr_cols):
            v = col[i]
            if v is None:
                continue
            memo = memos[ki]
            vi = memo.get(v)
            if vi is None:
                ev = C.encode_value(v)
                vi = value_idx.get(ev)
                if vi is None:
                    vi = value_idx[ev] = len(values)
                    values.append(ev)
                memo[v] = vi
            tag_idx.append(ki)
            tag_idx.append(vi)
        fid = fids[i] if fids is not None else None
        gt = gtypes if isinstance(gtypes, int) else gtypes[i]
        feat_blobs.append(C._len_field(2, encode_feature(fid, tag_idx, gt, geoms[i])))
    body = C._varint_field(15, 2)
    body += C._len_field(1, name.encode("utf-8"))
    body += b"".join(feat_blobs)
    body += b"".join(C._len_field(3, k.encode("utf-8")) for k in keys)
    body += b"".join(C._len_field(4, v) for v in values)
    body += C._varint_field(5, extent)
    return C._len_field(3, body)


def encode_point_geoms(ix, iy) -> list[bytes]:
    """Geometry command streams for N single-point features:
    [MoveTo|1<<3, zigzag(x), zigzag(y)] each. ix/iy int arrays."""
    out = []
    for x, y in zip(ix.tolist(), iy.tolist()):
        out.append(b"\x09" + C._varint((x << 1) ^ (x >> 63)) + C._varint((y << 1) ^ (y >> 63)))
    return out


# ------------------------------------------------------------ oracle

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
        return C.GEOM_POINT, encode_point_geoms(ix, iy)[0]
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
    return encode_layer_columnar(
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
