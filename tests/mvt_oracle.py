"""Test oracle for the MVT encode (operators/mvt.py): the reference tile
query (sqltomvt.py:104-224: ST_AsMVTGeom + ST_AsMVT per layer, then
STRING_AGG ORDER BY layer index [+ gzip] + md5 per tile) run in plain
Python over collected, tile-assigned rows. Geometry goes through the
scalar as_mvt_geom / as_mvt_geom_points, values through the scalar
_attr_value, layers through encode_layer_columnar, so neither the
vectorized map-side stages nor the grouped kernel (frame_layer) are on
the oracle's path. The layer encoders (encode_layer, encode_layer_columnar,
encode_feature, encode_point_geoms) are the reference codec the
codec tests use too; the library frames layers with frame_layer only.

The scalar geometry reference also lives here, since only tests run it:
the rect clips (clip_line_rect, clip_ring_rect, clip_to_rect),
ST_AsMVTGeom for one geometry (as_mvt_geom, as_mvt_geom_points) and a
per-blob reference for the batch WKB decoder (decode_wkb_reference,
the oracle of functions/vecmvt.decode_wkb_batch)."""

import hashlib

import numpy as np

from sparktiles.functions import geom as G
from sparktiles.functions import mvtcodec as C
from sparktiles.functions.tilemath import tile_bbox
from sparktiles.operators.mvt import DEFAULT_EXTENT, _attr_value


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


# ------------------------------------------------------------ scalar clip

def clip_ring_rect(ring, xmin, ymin, xmax, ymax):
    """Sutherland-Hodgman polygon-ring clip to an axis-aligned rect."""
    pts = [tuple(p) for p in np.asarray(ring, dtype=float)]
    if pts and pts[0] == pts[-1]:
        pts = pts[:-1]

    def clip_edge(poly, inside, intersect):
        out = []
        n = len(poly)
        for i in range(n):
            cur, prev = poly[i], poly[i - 1]
            cin, pin = inside(cur), inside(prev)
            if cin:
                if not pin:
                    out.append(intersect(prev, cur))
                out.append(cur)
            elif pin:
                out.append(intersect(prev, cur))
        return out

    def ix(p, q, x):
        t = (x - p[0]) / (q[0] - p[0])
        return (x, p[1] + t * (q[1] - p[1]))

    def iy(p, q, y):
        t = (y - p[1]) / (q[1] - p[1])
        return (p[0] + t * (q[0] - p[0]), y)

    pts = clip_edge(pts, lambda p: p[0] >= xmin, lambda p, q: ix(p, q, xmin))
    if pts:
        pts = clip_edge(pts, lambda p: p[0] <= xmax, lambda p, q: ix(p, q, xmax))
    if pts:
        pts = clip_edge(pts, lambda p: p[1] >= ymin, lambda p, q: iy(p, q, ymin))
    if pts:
        pts = clip_edge(pts, lambda p: p[1] <= ymax, lambda p, q: iy(p, q, ymax))
    if len(pts) < 3:
        return None
    pts.append(pts[0])
    arr = np.array(pts, dtype=float)
    if abs(G.ring_area(arr)) == 0:
        return None
    return arr


def clip_line_rect(line, xmin, ymin, xmax, ymax):
    """Liang-Barsky per segment; returns list of line parts."""
    pts = np.asarray(line, dtype=float)
    parts, cur = [], []
    for i in range(len(pts) - 1):
        p, q = pts[i], pts[i + 1]
        t0, t1 = 0.0, 1.0
        d = q - p
        ok = True
        for coord, lo, hi in ((0, xmin, xmax), (1, ymin, ymax)):
            if d[coord] == 0:
                if p[coord] < lo or p[coord] > hi:
                    ok = False
                    break
            else:
                ta = (lo - p[coord]) / d[coord]
                tb = (hi - p[coord]) / d[coord]
                if ta > tb:
                    ta, tb = tb, ta
                t0, t1 = max(t0, ta), min(t1, tb)
                if t0 > t1:
                    ok = False
                    break
        if not ok:
            if len(cur) > 1:
                parts.append(np.array(cur))
            cur = []
            continue
        a = p + t0 * d
        b = p + t1 * d
        if not cur or not np.allclose(cur[-1], a):
            if len(cur) > 1:
                parts.append(np.array(cur))
            cur = [a]
        cur.append(b)
    if len(cur) > 1:
        parts.append(np.array(cur))
    return parts


def clip_to_rect(geom, xmin, ymin, xmax, ymax):
    """ST_ClipByBox2D-style clip; returns geom or None when nothing left."""
    gtype, coords = geom
    if G.is_empty(geom):
        return None
    if gtype == "Point":
        x, y = coords
        return geom if (xmin <= x <= xmax and ymin <= y <= ymax) else None
    if gtype == "MultiPoint":
        arr = np.asarray(coords, dtype=float)
        m = (arr[:, 0] >= xmin) & (arr[:, 0] <= xmax) & (arr[:, 1] >= ymin) & (arr[:, 1] <= ymax)
        if not m.any():
            return None
        kept = arr[m]
        return ("Point", tuple(kept[0])) if len(kept) == 1 else ("MultiPoint", kept)
    if gtype == "LineString":
        parts = clip_line_rect(coords, xmin, ymin, xmax, ymax)
        if not parts:
            return None
        return ("LineString", parts[0]) if len(parts) == 1 else ("MultiLineString", parts)
    if gtype == "MultiLineString":
        parts = []
        for ls in coords:
            parts.extend(clip_line_rect(ls, xmin, ymin, xmax, ymax))
        if not parts:
            return None
        return ("LineString", parts[0]) if len(parts) == 1 else ("MultiLineString", parts)
    if gtype == "Polygon":
        shell = clip_ring_rect(coords[0], xmin, ymin, xmax, ymax)
        if shell is None:
            return None
        rings = [shell]
        for hole in coords[1:]:
            h = clip_ring_rect(hole, xmin, ymin, xmax, ymax)
            if h is not None:
                rings.append(h)
        return ("Polygon", rings)
    if gtype == "MultiPolygon":
        polys = []
        for rings in coords:
            p = clip_to_rect(("Polygon", rings), xmin, ymin, xmax, ymax)
            if p is not None:
                polys.append(p[1])
        if not polys:
            return None
        return ("Polygon", polys[0]) if len(polys) == 1 else ("MultiPolygon", polys)
    return None


# ------------------------------------------------------------ scalar ST_AsMVTGeom

def as_mvt_geom_points(
    mx: np.ndarray, my: np.ndarray, z: int, tx: int, ty: int,
    extent: int = DEFAULT_EXTENT, buffer_px: int = 0,
):
    """Vectorized point transform: mercator -> integer tile-local coords
    (y-down), keep mask for points within extent+buffer.
    Returns (ix, iy, keep)."""
    xmin, ymin, xmax, ymax = tile_bbox(z, tx, ty)
    scale = extent / (xmax - xmin)
    ix = np.rint((mx - xmin) * scale)
    iy = np.rint((ymax - my) * scale)
    keep = (ix >= -buffer_px) & (ix <= extent + buffer_px) & \
           (iy >= -buffer_px) & (iy <= extent + buffer_px)
    return ix.astype(np.int64), iy.astype(np.int64), keep


def _dedupe_consecutive(arr: np.ndarray) -> np.ndarray:
    if len(arr) < 2:
        return arr
    keep = np.ones(len(arr), dtype=bool)
    keep[1:] = (arr[1:] != arr[:-1]).any(axis=1)
    return arr[keep]


def as_mvt_geom(
    geom, z: int, tx: int, ty: int,
    extent: int = DEFAULT_EXTENT, buffer_px: int = 0, clip: bool = True,
):
    """ST_AsMVTGeom analog for one geometry (reference use:
    sqltomvt.py:202-207). Transform to tile-local y-down coords scaled
    to `extent`, clip to extent+buffer, snap to integers, drop
    degenerate output (-> None). Returns (mvt_gtype, parts)."""
    if geom is None or G.is_empty(geom):
        return None
    xmin, ymin, xmax, ymax = tile_bbox(z, tx, ty)
    scale = extent / (xmax - xmin)

    def tf(arr):
        arr = np.asarray(arr, dtype=float)
        out = np.empty_like(arr)
        out[:, 0] = (arr[:, 0] - xmin) * scale
        out[:, 1] = (ymax - arr[:, 1]) * scale
        return out

    lo, hi = -float(buffer_px), float(extent + buffer_px)
    gtype, coords = geom

    if gtype in ("Point", "MultiPoint"):
        pts = np.asarray([coords] if gtype == "Point" else coords, dtype=float)
        t = tf(pts)
        if clip:
            m = (t[:, 0] >= lo) & (t[:, 0] <= hi) & (t[:, 1] >= lo) & (t[:, 1] <= hi)
            t = t[m]
        if len(t) == 0:
            return None
        return (C.GEOM_POINT, [np.rint(t).astype(np.int64)])

    if gtype in ("LineString", "MultiLineString"):
        lines = [coords] if gtype == "LineString" else coords
        out = []
        for ls in lines:
            t = tf(ls)
            parts = clip_line_rect(t, lo, lo, hi, hi) if clip else [t]
            for p in parts:
                snapped = _dedupe_consecutive(np.rint(p).astype(np.int64))
                if len(snapped) >= 2:
                    out.append(snapped)
        if not out:
            return None
        return (C.GEOM_LINESTRING, out)

    if gtype in ("Polygon", "MultiPolygon"):
        polys = [coords] if gtype == "Polygon" else coords
        out = []
        for rings in polys:
            fixed_rings = []
            for k, ring in enumerate(rings):
                t = tf(ring)
                r = clip_ring_rect(t, lo, lo, hi, hi) if clip else t
                if r is None:
                    if k == 0:
                        fixed_rings = []
                        break
                    continue
                snapped = _dedupe_consecutive(np.rint(r).astype(np.int64))
                if len(snapped) > 0 and (snapped[0] != snapped[-1]).any():
                    snapped = np.vstack([snapped, snapped[:1]])
                if len(snapped) < 4:
                    if k == 0:
                        fixed_rings = []
                        break
                    continue
                a = G.ring_area(snapped.astype(float))
                if a == 0:
                    if k == 0:
                        fixed_rings = []
                        break
                    continue
                # MVT spec winding: exterior rings have positive surveyor
                # area computed on tile coords as-is (y-down => screen-CW);
                # interior rings negative.
                want_pos = (k == 0)
                if (a > 0) != want_pos:
                    snapped = snapped[::-1]
                fixed_rings.append(snapped)
            out.extend(fixed_rings and [fixed_rings] or [])
        if not out:
            return None
        flat = [r for rings in out for r in rings]
        return (C.GEOM_POLYGON, flat)

    return None


# ------------------------------------------------------------ scalar WKB decode

def decode_wkb_reference(blobs) -> dict:
    """vecmvt.decode_wkb_batch's flat family layout, built blob by blob
    on geom.wkb_loads. Returns {"pt": (coords, off, part_row), "ln":
    (coords, off, part_row), "pg": (coords, off, part_poly, poly_row,
    ring_is_shell)}. The drop rules are those of ST_AsMVTGeom on an
    empty input: None rows, a NaN (empty) point, a part with no
    vertices, a polygon whose shell is empty and every
    GeometryCollection contribute nothing; an empty hole is skipped
    and the rest of its polygon kept."""
    pts, lines, polys = [], [], []          # (row, coords | rings)
    for row, b in enumerate(blobs):
        if b is None:
            continue
        gtype, coords = G.wkb_loads(bytes(b))
        if coords is None:
            continue
        if gtype == "Point":
            pts.append((row, np.array([coords], dtype=float)))
        elif gtype == "MultiPoint":
            if len(coords):
                pts.append((row, np.array(coords, dtype=float)))
        elif gtype in ("LineString", "MultiLineString"):
            for part in [coords] if gtype == "LineString" else coords:
                if len(part):
                    lines.append((row, part))
        elif gtype in ("Polygon", "MultiPolygon"):
            for rings in [coords] if gtype == "Polygon" else coords:
                if rings and len(rings[0]):
                    polys.append((row, [rings[0]]
                                  + [r for r in rings[1:] if len(r)]))

    def flat(chunks):
        coords = (np.concatenate(chunks) if chunks else np.empty((0, 2)))
        off = np.concatenate([[0], np.cumsum([len(c) for c in chunks],
                                             dtype=np.int64)])
        return coords, off

    rings = [r for _, rs in polys for r in rs]
    return {
        "pt": (*flat([c for _, c in pts]), [row for row, _ in pts]),
        "ln": (*flat([c for _, c in lines]), [row for row, _ in lines]),
        "pg": (*flat(rings),
               [k for k, (_, rs) in enumerate(polys) for _ in rs],
               [row for row, _ in polys],
               [i == 0 for _, rs in polys for i in range(len(rs))]),
    }


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
