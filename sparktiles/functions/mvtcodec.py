"""Mapbox Vector Tile codec — hand-rolled protobuf wire format.

Implements the MVT 2.1 layout used by the reference
(/root/reference/openmaptiles/vector_tile.proto, decoder semantics in
openmaptiles/utils.py:294-373 and vector_tile.py:10-72):

  Tile            { repeated Layer layers = 3; }
  Tile.Layer      { version=15(varint, =2), name=1, features=2,
                    keys=3(string), values=4(Value), extent=5(varint) }
  Tile.Value      { one of string=1, float=2, double=3, int=4,
                    uint=5, sint=6, bool=7 }
  Tile.Feature    { id=1, tags=2(packed), type=3(enum), geometry=4(packed) }

Geometry command stream: (cmd | count<<3) with cmd MoveTo=1 LineTo=2
ClosePath=7; parameters are zigzag-encoded coordinate deltas.

Determinism contract (so md5(tile) dedup and golden tests are stable,
SURVEY.md §7.3 hard-part 3): keys/values dictionaries are first-seen
order over features sorted by the caller; encoders never reorder.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

GEOM_POINT, GEOM_LINESTRING, GEOM_POLYGON = 1, 2, 3
_CMD_MOVETO, _CMD_LINETO, _CMD_CLOSE = 1, 2, 7
DEFAULT_EXTENT = 4096


# ------------------------------------------------------------ wire helpers

def _varint(n: int) -> bytes:
    out = bytearray()
    n &= (1 << 64) - 1
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _unzigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _tag(field: int, wire: int) -> bytes:
    return _varint((field << 3) | wire)


def _len_field(field: int, payload: bytes) -> bytes:
    return _tag(field, 2) + _varint(len(payload)) + payload


def _varint_field(field: int, value: int) -> bytes:
    return _tag(field, 0) + _varint(value)


# ------------------------------------------------------------ value encode

def encode_value(v) -> bytes:
    """MVT typed Value submessage. bool -> bool_value, int -> int_value,
    float -> double_value, str -> string_value (the reference maps PG
    bool/text/int4/int8 exactly this way, pgutils.py:115-130)."""
    if type(v) is str:  # hot path: string attrs dominate tile encoding
        s = v.encode("utf-8")
        return b"\x0a" + varint_cached(len(s)) + s  # _len_field(1, s)
    if isinstance(v, bool) or isinstance(v, np.bool_):
        return _tag(7, 0) + _varint(1 if v else 0)
    if isinstance(v, (int, np.integer)):
        return _tag(4, 0) + _varint(int(v))
    if isinstance(v, (float, np.floating)):
        return _tag(3, 1) + struct.pack("<d", float(v))
    s = str(v).encode("utf-8")
    return _len_field(1, s)


def decode_value(buf: bytes):
    field, wire, val, _ = next(_iter_fields(buf))
    if field == 1:
        return val.decode("utf-8")
    if field == 2:
        return struct.unpack("<f", val)[0]
    if field == 3:
        return struct.unpack("<d", val)[0]
    if field == 4:
        return val if val < (1 << 63) else val - (1 << 64)
    if field == 5:
        return val
    if field == 6:
        return _unzigzag(val)
    if field == 7:
        return bool(val)
    raise ValueError(f"bad Value field {field}")


def _iter_fields(buf: bytes):
    """Yield (field, wire, value, end_offset) over a protobuf message."""
    i, n = 0, len(buf)
    while i < n:
        key, i = _read_varint(buf, i)
        field, wire = key >> 3, key & 7
        if wire == 0:
            val, i = _read_varint(buf, i)
        elif wire == 2:
            ln, i = _read_varint(buf, i)
            val = buf[i: i + ln]
            i += ln
        elif wire == 5:
            val = buf[i: i + 4]
            i += 4
        elif wire == 1:
            val = buf[i: i + 8]
            i += 8
        else:
            raise ValueError(f"wire type {wire}")
        yield field, wire, val, i


def _read_varint(buf: bytes, i: int) -> tuple[int, int]:
    out = shift = 0
    while True:
        b = buf[i]
        i += 1
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            return out, i
        shift += 7


# ------------------------------------------------------------ geometry

def encode_geometry(gtype: int, parts: list[np.ndarray]) -> bytes:
    """parts: for POINT one array [N,2] of N points (multipoint when N>1);
    for LINESTRING a list of line arrays; for POLYGON a list of rings in
    order (exterior then holes, multipolygon = ext,holes,ext,holes...).
    Coordinates must already be integer tile-local (y-down)."""
    cmds: list[int] = []
    cx = cy = 0

    def push_delta(x, y):
        nonlocal cx, cy
        cmds.append(_zigzag(int(x) - cx))
        cmds.append(_zigzag(int(y) - cy))
        cx, cy = int(x), int(y)

    if gtype == GEOM_POINT:
        pts = parts[0]
        cmds.append(_CMD_MOVETO | (len(pts) << 3))
        for p in pts:
            push_delta(p[0], p[1])
    elif gtype == GEOM_LINESTRING:
        for line in parts:
            cmds.append(_CMD_MOVETO | (1 << 3))
            push_delta(line[0][0], line[0][1])
            cmds.append(_CMD_LINETO | ((len(line) - 1) << 3))
            for p in line[1:]:
                push_delta(p[0], p[1])
    elif gtype == GEOM_POLYGON:
        for ring in parts:
            r = ring[:-1] if (ring[0] == ring[-1]).all() else ring
            cmds.append(_CMD_MOVETO | (1 << 3))
            push_delta(r[0][0], r[0][1])
            cmds.append(_CMD_LINETO | ((len(r) - 1) << 3))
            for p in r[1:]:
                push_delta(p[0], p[1])
            cmds.append(_CMD_CLOSE | (1 << 3))
    else:
        raise ValueError(gtype)
    return b"".join(_varint(c) for c in cmds)


def decode_geometry(gtype: int, data: bytes) -> list[np.ndarray]:
    vals = []
    i = 0
    while i < len(data):
        v, i = _read_varint(data, i)
        vals.append(v)
    parts, cur = [], []
    cx = cy = 0
    i = 0
    while i < len(vals):
        cmd, count = vals[i] & 7, vals[i] >> 3
        i += 1
        if cmd == _CMD_MOVETO:
            if cur:
                parts.append(np.array(cur))
                cur = []
            for _ in range(count):
                cx += _unzigzag(vals[i]); cy += _unzigzag(vals[i + 1])
                i += 2
                cur.append((cx, cy))
            if gtype == GEOM_POINT:
                continue
        elif cmd == _CMD_LINETO:
            for _ in range(count):
                cx += _unzigzag(vals[i]); cy += _unzigzag(vals[i + 1])
                i += 2
                cur.append((cx, cy))
        elif cmd == _CMD_CLOSE:
            cur.append(cur[0])
            parts.append(np.array(cur))
            cur = []
    if cur:
        parts.append(np.array(cur))
    return parts


# --------------------------------------------- vectorized point layer

# small-varint cache: every length/index/zigzag the tile encoder emits
# (except raw fids) is < 16384 at default extent
_VARINT_CACHE = None


def varint_cached(n: int) -> bytes:
    global _VARINT_CACHE
    if _VARINT_CACHE is None:
        _VARINT_CACHE = [_varint(i) for i in range(16384)]
    return _VARINT_CACHE[n] if 0 <= n < 16384 else _varint(n)


def point_row_fields_vec(ix: np.ndarray, iy: np.ndarray) -> list:
    """Batch-vectorized geometry fields for single-point features:
    geom_fields[i] = 0x22 varint(len) 0x09 zz(x) zz(y). Group-
    independent, so one numpy pass serves every tile in the Arrow
    batch; the per-group kernel just concatenates cached pieces (feature
    ids: vecmvt.fid_fields_vec)."""
    n = len(ix)
    zzx = ((ix.astype(np.int64) << 1) ^ (ix.astype(np.int64) >> 63)).view(np.uint64)
    zzy = ((iy.astype(np.int64) << 1) ^ (iy.astype(np.int64) >> 63)).view(np.uint64)
    nb_zzx, nb_zzy = _varint_nbytes(zzx), _varint_nbytes(zzy)
    geom_len = 1 + nb_zzx + nb_zzy
    nb_glen = _varint_nbytes(geom_len.astype(np.uint64))
    total = 1 + nb_glen + geom_len  # 0x22 len 0x09 zzx zzy
    offs = np.zeros(n, dtype=np.int64)
    if n > 1:
        offs[1:] = np.cumsum(total[:-1])
    buf = np.zeros(int(total.sum()), dtype=np.uint8)
    buf[offs] = 0x22
    _write_varints(buf, offs + 1, geom_len.astype(np.uint64), nb_glen)
    o = offs + 1 + nb_glen
    buf[o] = 0x09
    _write_varints(buf, o + 1, zzx, nb_zzx)
    _write_varints(buf, o + 1 + nb_zzx, zzy, nb_zzy)
    blob = buf.tobytes()
    return [blob[a:b] for a, b in zip(offs.tolist(), (offs + total).tolist())]


_GTYPE_FIELD = {g: b"\x18" + bytes([g]) for g in (1, 2, 3)}


def layer_frame_blobs(name: str, keys: list[str],
                      extent: int = DEFAULT_EXTENT) -> tuple[bytes, bytes, bytes]:
    """Constant layer-message pieces (header: version+name, keys
    trailer, extent field) — identical for every tile of a layer, so
    encoders compute them once per task instead of per tile."""
    header = _varint_field(15, 2) + _len_field(1, name.encode("utf-8"))
    keys_blob = b"".join(_len_field(3, k.encode("utf-8")) for k in keys)
    extent_blob = _varint_field(5, extent)
    return header, keys_blob, extent_blob


def _varint_nbytes(v: np.ndarray) -> np.ndarray:
    """Varint byte count per uint64 value (vectorized)."""
    nb = np.ones(len(v), dtype=np.int64)
    t = v >> np.uint64(7)
    while t.any():
        nb += (t != 0)
        t = t >> np.uint64(7)
    return nb


def _write_varints(buf: np.ndarray, offs: np.ndarray, vals: np.ndarray,
                   nb: np.ndarray) -> None:
    """Scatter varint encodings of `vals` (uint64) into `buf` at per-value
    byte offsets `offs`; `nb` = _varint_nbytes(vals). O(max nb) numpy
    passes regardless of count."""
    kmax = int(nb.max()) if len(nb) else 0
    for k in range(kmax):
        m = nb > k
        byte = ((vals[m] >> np.uint64(7 * k)) & np.uint64(0x7F)).astype(np.uint8)
        buf[offs[m] + k] = byte | ((nb[m] > k + 1).astype(np.uint8) << 7)


def decode_tile(buf: bytes) -> dict:
    """Decode an MVT tile blob (optionally gzip'd) into
    {layer_name: {"extent": int, "version": int, "features": [
        {"id": int|None, "attrs": dict, "type": int, "parts": [ndarray]}]}}
    — the test oracle mirroring reference utils.py:294-373."""
    if buf[:2] == b"\x1f\x8b":
        buf = zlib.decompress(buf, 16 + zlib.MAX_WBITS)
    layers = {}
    for field, wire, val, _ in _iter_fields(buf):
        if field != 3:
            continue
        name, extent, version = None, DEFAULT_EXTENT, None
        keys, raw_values, feats = [], [], []
        for f2, w2, v2, _ in _iter_fields(val):
            if f2 == 15:
                version = v2
            elif f2 == 1:
                name = v2.decode("utf-8")
            elif f2 == 3:
                keys.append(v2.decode("utf-8"))
            elif f2 == 4:
                raw_values.append(decode_value(v2))
            elif f2 == 5:
                extent = v2
            elif f2 == 2:
                feats.append(v2)
        features = []
        for fb in feats:
            fid, tags, gtype, geom = None, [], None, b""
            for f3, w3, v3, _ in _iter_fields(fb):
                if f3 == 1:
                    fid = v3
                elif f3 == 2:
                    i = 0
                    while i < len(v3):
                        t, i = _read_varint(v3, i)
                        tags.append(t)
                elif f3 == 3:
                    gtype = v3
                elif f3 == 4:
                    geom = v3
            attrs = {keys[tags[i]]: raw_values[tags[i + 1]] for i in range(0, len(tags), 2)}
            features.append(
                {"id": fid, "attrs": attrs, "type": gtype,
                 "parts": decode_geometry(gtype, geom)}
            )
        layers[name] = {"extent": extent, "version": version, "features": features}
    return layers


def gzip_blob(data: bytes, level: int = 6) -> bytes:
    co = zlib.compressobj(level, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
    return co.compress(data) + co.flush()


def gunzip_blob(data: bytes) -> bytes:
    return zlib.decompress(data, 16 + zlib.MAX_WBITS)
