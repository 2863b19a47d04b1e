"""Batch-vectorized WKB -> MVT geometry pipeline (lines/polygons/points).

One per-row WKB structure walk (decode_wkb_batch) flattens a batch of
blobs into coordinate arrays; every later stage (tile transform,
Liang-Barsky line clip, Sutherland-Hodgman ring clip, snap, winding
fix, varint packing) is a numpy pass over the whole Arrow batch, so a
batch of N (feature, tile) rows costs O(numpy passes) instead of
O(total vertices) of Python — the line/polygon analog of
`mvtcodec.point_row_fields_vec` (the point spine's vectorized kernel).

Semantics mirror the reference's per-tile geometry step
(openmaptiles/sqltomvt.py:202-207 — ST_AsMVTGeom(geom, TileBBox(z,x,y),
extent, buffer, true)): transform to tile-local y-down integer coords,
clip to extent+buffer, drop degenerates, fix polygon winding.

Parity contract (pytest-asserted, tests/test_vecmvt.py): for every row,
the encoded geometry command stream is byte-identical to the scalar
reference kept with the tests —
`C.encode_geometry(*as_mvt_geom(wkb_loads(geom), z, x, y, ...))` from
tests/mvt_oracle.py — and a row drops (returns None) exactly when
as_mvt_geom returns None. "Scalar" below names that reference.

Flat batch layout: geometries are exploded into `coords` (float64 [P,2])
plus offset arrays — per-part `off` ([nparts+1] into coords) and
ownership indices (part -> row, ring -> polygon -> row). Every stage is
a scatter/gather over these arrays.
"""

from __future__ import annotations

import struct

import numpy as np

from sparktiles.functions.mvtcodec import (
    GEOM_LINESTRING,
    GEOM_POINT,
    GEOM_POLYGON,
    _varint_nbytes,
    _write_varints,
)
from sparktiles.functions.tilemath import TILEBBOX_MAX

_SRID_FLAG = 0x20000000

# np.allclose defaults: the line-clip continuity tolerance of the scalar
# reference (tests/mvt_oracle.py clip_line_rect)
_RTOL, _ATOL = 1.0e-5, 1.0e-8


# ===================================================================
# WKB batch decode -> flat family structures
# ===================================================================

class _Flat:
    """One geometry family's flattened batch: coords + offsets."""

    __slots__ = ("coords", "off", "part_row", "part_poly", "poly_row",
                 "ring_is_shell")

    def __init__(self):
        self.coords = None        # float64 [P, 2]
        self.off = None           # int64 [nparts + 1]
        self.part_row = None      # int64 [nparts]  (batch row index)
        self.part_poly = None     # int64 [nrings]  (polys only: global poly id)
        self.poly_row = None      # int64 [npolys]  (polys only)
        self.ring_is_shell = None  # bool [nrings]  (polys only)


def _ragged_arange(counts: np.ndarray) -> np.ndarray:
    """[0..c0), [0..c1), ... concatenated (int64)."""
    total = int(counts.sum())
    if total == 0:
        return np.zeros(0, dtype=np.int64)
    starts = np.zeros(len(counts), dtype=np.int64)
    starts[1:] = np.cumsum(counts[:-1])
    return np.arange(total, dtype=np.int64) - np.repeat(starts, counts)


def decode_wkb_batch(blobs) -> tuple[_Flat, _Flat, _Flat]:
    """Parse a batch of WKB blobs (object array of bytes/None) into
    three family structures (points, lines, polygons).

    One per-row structure walk: each blob's header (byte order, EWKB
    SRID flag) is read with struct, and every child of a Multi* honors
    its own byte order and SRID flag, as geom.wkb_loads does. Raises on
    a truncated or corrupt blob. Unsupported / empty geometries are
    simply absent from every family: a NaN point, a polygon whose shell
    is empty and a GeometryCollection drop; an empty hole is skipped
    (ST_AsMVTGeom returns nothing for them either).
    """
    pt, ln, pg = _Flat(), _Flat(), _Flat()
    pt_chunks, pt_lens, pt_rows = [], [], []
    ln_chunks, ln_lens, ln_rows = [], [], []
    pg_chunks, pg_lens, pg_ring_poly, pg_shell = [], [], [], []
    pg_poly_rows = []
    n_poly = 0

    # adjacent-duplicate cache: after supercover assignment a feature's
    # candidate rows arrive consecutively (one per touched tile within
    # a zoom block), all carrying the SAME WKB bytes — the structure
    # walk is ~67% of the per-row pipeline cost, so replaying the
    # previous blob's parsed chunk views (content-compared, O(1) on
    # length mismatch) cuts decode work from per-candidate to
    # per-(feature, zoom). Byte-parity preserved: replay appends the
    # identical coordinate views under the new row id.
    prev_blob = None
    prev_rec = None

    up = struct.unpack_from
    for row, b in enumerate(blobs):
        if b is None:
            prev_blob = None
            continue
        if prev_blob is not None and b == prev_blob:
            ptc, lnc, pgc = prev_rec
            for arr, ln_ in ptc:
                pt_chunks.append(arr)
                pt_lens.append(ln_)
                pt_rows.append(row)
            for arr, ln_ in lnc:
                ln_chunks.append(arr)
                ln_lens.append(ln_)
                ln_rows.append(row)
            for rings in pgc:
                for arr, ln_, sh in rings:
                    pg_chunks.append(arr)
                    pg_lens.append(ln_)
                    pg_ring_poly.append(n_poly)
                    pg_shell.append(sh)
                pg_poly_rows.append(row)
                n_poly += 1
            continue
        p0, l0 = len(pt_chunks), len(ln_chunks)
        g0r, g0p = len(pg_chunks), len(pg_poly_rows)
        mv = bytes(b)
        fmt = "<" if mv[0] == 1 else ">"
        code = up(fmt + "I", mv, 1)[0]
        off = 5
        if code & _SRID_FLAG:
            off += 4
            code &= ~_SRID_FLAG
        t = code & 0xFF
        if t == 1:  # Point
            x, y = up(fmt + "dd", mv, off)
            if x == x or y == y:  # not the NaN-empty sentinel
                pt_chunks.append(np.array([[x, y]]))
                pt_lens.append(1)
                pt_rows.append(row)
        elif t == 4:  # MultiPoint (child Point headers per point)
            n = up(fmt + "I", mv, off)[0]
            off += 4
            if n:
                # fast path: uniform plain child headers (same byte
                # order as parent, no child SRID) -> one strided bulk
                # read; 21-byte stride = 1 flag + 4 code + 16 coords
                a8 = np.frombuffer(mv, np.uint8)
                end = off + 21 * n
                want = ((1, 1, 0, 0, 0) if fmt == "<" else (0, 0, 0, 0, 1))
                block = a8[off:end].reshape(n, 21) if end <= len(a8) else None
                if block is not None and (block[:, :5] == want).all():
                    pts = np.ascontiguousarray(block[:, 5:21]).view(
                        fmt + "f8").reshape(n, 2).astype(np.float64)
                else:
                    # mixed/child-specific headers: honor each child's
                    # own endianness + SRID flag (as geom.wkb_loads)
                    pts = np.empty((n, 2))
                    o = off
                    for k in range(n):
                        cf = "<" if mv[o] == 1 else ">"
                        ccode = up(cf + "I", mv, o + 1)[0]
                        o += 5
                        if ccode & _SRID_FLAG:
                            o += 4
                        pts[k] = up(cf + "dd", mv, o)
                        o += 16
                pt_chunks.append(pts)
                pt_lens.append(n)
                pt_rows.append(row)
        elif t == 2:  # LineString
            n = up(fmt + "I", mv, off)[0]
            if n:
                ln_chunks.append(np.frombuffer(
                    mv, fmt + "f8", 2 * n, off + 4).reshape(n, 2))
                ln_lens.append(n)
                ln_rows.append(row)
        elif t == 5:  # MultiLineString (each child honors its own
            # endianness byte + SRID flag, as geom.wkb_loads)
            n = up(fmt + "I", mv, off)[0]
            off += 4
            for _ in range(n):
                cf = "<" if mv[off] == 1 else ">"
                ccode = up(cf + "I", mv, off + 1)[0]
                off += 5
                if ccode & _SRID_FLAG:
                    off += 4
                m = up(cf + "I", mv, off)[0]
                off += 4
                if m:
                    ln_chunks.append(np.frombuffer(
                        mv, cf + "f8", 2 * m, off).reshape(m, 2))
                    ln_lens.append(m)
                    ln_rows.append(row)
                off += 16 * m
        elif t in (3, 6):  # Polygon / MultiPolygon
            def read_poly(o, pfmt, row=row):
                """Parse one polygon's rings at offset o (byte order
                pfmt); commit only if the shell is non-empty (an empty
                shell kills the whole polygon: its clip is None in
                ST_AsMVTGeom)."""
                nonlocal n_poly
                nr = up(pfmt + "I", mv, o)[0]
                o += 4
                rings = []
                for k in range(nr):
                    m = up(pfmt + "I", mv, o)[0]
                    o += 4
                    rings.append(np.frombuffer(
                        mv, pfmt + "f8", 2 * m, o).reshape(m, 2))
                    o += 16 * m
                if rings and len(rings[0]):
                    for k, r in enumerate(rings):
                        if len(r) == 0 and k > 0:
                            continue  # empty hole: its clip is None, skip
                        pg_chunks.append(r)
                        pg_lens.append(len(r))
                        pg_ring_poly.append(n_poly)
                        pg_shell.append(k == 0)
                    pg_poly_rows.append(row)
                    n_poly += 1
                return o
            if t == 3:
                read_poly(off, fmt)
            else:
                n = up(fmt + "I", mv, off)[0]
                off += 4
                for _ in range(n):
                    # child header: own endianness + optional SRID
                    cf = "<" if mv[off] == 1 else ">"
                    ccode = up(cf + "I", mv, off + 1)[0]
                    off += 5
                    if ccode & _SRID_FLAG:
                        off += 4
                    off = read_poly(off, cf)
        # else: GeometryCollection / unknown -> dropped

        # record this blob's appended chunks for adjacent-dup replay
        n_new_polys = len(pg_poly_rows) - g0p
        polys: list = [[] for _ in range(n_new_polys)]
        if n_new_polys:
            base = n_poly - n_new_polys
            for arr, ln_, pid, sh in zip(pg_chunks[g0r:], pg_lens[g0r:],
                                         pg_ring_poly[g0r:], pg_shell[g0r:]):
                polys[pid - base].append((arr, ln_, sh))
        prev_blob = b
        prev_rec = (
            list(zip(pt_chunks[p0:], pt_lens[p0:])),
            list(zip(ln_chunks[l0:], ln_lens[l0:])),
            polys,
        )

    def fill(flat, chunks, lens, rows):
        if chunks:
            flat.coords = np.ascontiguousarray(
                np.concatenate(chunks).astype(np.float64, copy=False))
            flat.off = np.concatenate(
                [[0], np.cumsum(np.asarray(lens, dtype=np.int64))])
            flat.part_row = np.asarray(rows, dtype=np.int64)
        else:
            flat.coords = np.empty((0, 2))
            flat.off = np.zeros(1, dtype=np.int64)
            flat.part_row = np.empty(0, dtype=np.int64)

    fill(pt, pt_chunks, pt_lens, pt_rows)
    fill(ln, ln_chunks, ln_lens, ln_rows)
    fill(pg, pg_chunks, pg_lens, pg_ring_poly)  # part_row holds poly id here
    pg.part_poly = pg.part_row
    pg.part_row = None
    pg.poly_row = np.asarray(pg_poly_rows, dtype=np.int64)
    pg.ring_is_shell = np.asarray(pg_shell, dtype=bool)
    return pt, ln, pg


# ===================================================================
# tile transform
# ===================================================================

def tile_transform_params(z, x, y, extent: int):
    """Per-row (xmin, ymax, scale) in the exact float sequence of
    tilemath.tile_bbox + as_mvt_geom (scale = extent / (fl(xmin+res) -
    xmin)) so transformed coords are bit-identical to the scalar path."""
    zf = np.asarray(z, dtype=np.float64)
    res = (TILEBBOX_MAX * 2.0) / np.power(2.0, zf)
    xmin = -TILEBBOX_MAX + np.asarray(x, dtype=np.float64) * res
    ymax = TILEBBOX_MAX - np.asarray(y, dtype=np.float64) * res
    xmax = xmin + res
    scale = float(extent) / (xmax - xmin)
    return xmin, ymax, scale


def _transform(coords, vert_row, xmin, ymax, scale):
    """Mercator -> tile-local float coords, y-down (as_mvt_geom's tf)."""
    out = np.empty_like(coords)
    out[:, 0] = (coords[:, 0] - xmin[vert_row]) * scale[vert_row]
    out[:, 1] = (ymax[vert_row] - coords[:, 1]) * scale[vert_row]
    return out


def _vert_owner(off, n_owner_vals):
    """Repeat per-part owner values down to per-vertex."""
    lens = np.diff(off)
    return np.repeat(n_owner_vals, lens)


# ===================================================================
# line clip (Liang-Barsky, batch)
# ===================================================================

def clip_lines_batch(t, off, lo: float, hi: float):
    """Batch Liang-Barsky over every segment of every part.
    t: tile-local float coords [P,2]; off: part offsets.
    Returns (out float64[Q,2], sub_off int64[S+1], sub_part int64[S]) —
    clipped sub-parts in scalar-path order (same part / segment order,
    same continuity rule incl. the np.allclose tolerance).
    """
    P = len(t)
    empty = (np.empty((0, 2)), np.zeros(1, dtype=np.int64),
             np.empty(0, dtype=np.int64))
    if P == 0:
        return empty
    seg_mask = np.ones(P, dtype=bool)
    seg_mask[off[1:] - 1] = False          # last vertex of each part
    seg_i = np.flatnonzero(seg_mask)
    if len(seg_i) == 0:
        return empty
    p = t[seg_i]
    q = t[seg_i + 1]
    d = q - p
    ns = len(seg_i)
    t0 = np.zeros(ns)
    t1 = np.ones(ns)
    ok = np.ones(ns, dtype=bool)
    for c in (0, 1):
        dz = d[:, c] == 0.0
        ok &= ~(dz & ((p[:, c] < lo) | (p[:, c] > hi)))
        with np.errstate(divide="ignore", invalid="ignore"):
            ta = (lo - p[:, c]) / d[:, c]
            tb = (hi - p[:, c]) / d[:, c]
        tmin = np.minimum(ta, tb)
        tmax = np.maximum(ta, tb)
        nz = ~dz
        t0 = np.where(nz, np.maximum(t0, tmin), t0)
        t1 = np.where(nz, np.minimum(t1, tmax), t1)
    ok &= t0 <= t1
    ai = np.flatnonzero(ok)
    if len(ai) == 0:
        return empty
    seg_part = np.searchsorted(off, seg_i, side="right") - 1
    a = p[ai] + t0[ai, None] * d[ai]
    b = p[ai] + t1[ai, None] * d[ai]
    sp = seg_part[ai]
    # scalar continuity: previous segment (index-1, same part) accepted
    # AND np.allclose(prev_b, cur_a)  (|prev_b - a| <= atol + rtol*|a|)
    new_start = np.ones(len(ai), dtype=bool)
    if len(ai) > 1:
        adjacent = (ai[1:] == ai[:-1] + 1) & (sp[1:] == sp[:-1])
        close = (np.abs(b[:-1] - a[1:]) <= _ATOL + _RTOL * np.abs(a[1:])
                 ).all(axis=1)
        new_start[1:] = ~(adjacent & close)
    npts = 1 + new_start.astype(np.int64)
    pos = np.concatenate([[0], np.cumsum(npts)])
    out = np.empty((pos[-1], 2))
    out[pos[:-1][new_start]] = a[new_start]
    out[pos[:-1] + new_start] = b
    sub_starts = pos[:-1][new_start]
    sub_off = np.concatenate([sub_starts, [pos[-1]]])
    sub_part = sp[new_start]
    return out, sub_off, sub_part


def snap_dedupe(coords, off, min_pts: int):
    """np.rint -> int64 snap + consecutive-duplicate removal per part
    (scalar `_dedupe_consecutive`), then drop parts shorter than
    min_pts. Returns (snapped int64[Q,2], new_off, good_part_mask) where
    new_off spans only the surviving parts (in order)."""
    n = len(coords)
    nparts = len(off) - 1
    if n == 0:
        return (np.empty((0, 2), dtype=np.int64), np.zeros(1, dtype=np.int64),
                np.zeros(nparts, dtype=bool))
    snapped = np.rint(coords).astype(np.int64)
    keep = np.ones(n, dtype=bool)
    keep[1:] = (snapped[1:] != snapped[:-1]).any(axis=1)
    keep[off[:-1]] = True
    idx = np.flatnonzero(keep)
    pid = np.searchsorted(off, idx, side="right") - 1
    counts = np.bincount(pid, minlength=nparts)
    good = counts >= min_pts
    sel = good[pid]
    kept = snapped[idx[sel]]
    gcounts = counts[good]
    new_off = np.concatenate([[0], np.cumsum(gcounts)])
    return kept, new_off, good


# ===================================================================
# polygon clip (Sutherland-Hodgman, batch)
# ===================================================================

def _sh_pass(pts, off, axis: int, bound: float, keep_ge: bool):
    """One clip-edge pass over every ring at once. Rings are OPEN point
    lists (first != last); emission order per vertex matches the scalar
    clip_edge: [intersection?][current?]."""
    n = len(pts)
    if n == 0:
        return pts, off
    prev_idx = np.arange(n) - 1
    # wrap each non-empty ring's start to its own last vertex (empty
    # rings share their start index with the next ring — skip them so
    # the scatter never writes a stale or out-of-bounds wrap)
    nonempty = np.diff(off) > 0
    prev_idx[off[:-1][nonempty]] = (off[1:] - 1)[nonempty]
    prev = pts[prev_idx]
    if keep_ge:
        cin = pts[:, axis] >= bound
        pin = prev[:, axis] >= bound
    else:
        cin = pts[:, axis] <= bound
        pin = prev[:, axis] <= bound
    cross = cin != pin
    n_emit = cin.astype(np.int64) + cross
    pos = np.concatenate([[0], np.cumsum(n_emit)])
    out = np.empty((pos[-1], 2))
    ci = np.flatnonzero(cross)
    if len(ci):
        pp = prev[ci]
        qq = pts[ci]
        other = 1 - axis
        tt = (bound - pp[:, axis]) / (qq[:, axis] - pp[:, axis])
        ipt = np.empty((len(ci), 2))
        ipt[:, axis] = bound
        ipt[:, other] = pp[:, other] + tt * (qq[:, other] - pp[:, other])
        out[pos[ci]] = ipt
    cm = np.flatnonzero(cin)
    out[pos[cm] + cross[cm]] = pts[cm]
    new_off = pos[off]
    return out, new_off


def clip_rings_batch(t, off, lo: float, hi: float):
    """Batch Sutherland-Hodgman: open each ring (drop exact closing
    dup), run the 4 edge passes in scalar order (x>=lo, x<=hi, y>=lo,
    y<=hi), drop rings with <3 points, close survivors, drop zero-area.
    Returns (closed float coords, new_off, ring_ok mask over input
    rings)."""
    nrings = len(off) - 1
    if len(t) == 0:
        return np.empty((0, 2)), np.zeros(1, dtype=np.int64), \
            np.zeros(nrings, dtype=bool)
    # open rings: drop last vertex where it exactly equals the first
    lens = np.diff(off)
    last = off[1:] - 1
    first = off[:-1]
    closed = np.zeros(nrings, dtype=bool)
    ne = lens > 0
    closed[ne] = (t[last[ne]] == t[first[ne]]).all(axis=1)
    drop = np.zeros(len(t), dtype=bool)
    drop[last[closed & (lens > 1)]] = True
    keep_idx = np.flatnonzero(~drop)
    pts = t[keep_idx]
    cur_off = np.concatenate(
        [[0], np.cumsum(lens - (closed & (lens > 1)).astype(np.int64))])
    for axis, bound, keep_ge in ((0, lo, True), (0, hi, False),
                                 (1, lo, True), (1, hi, False)):
        pts, cur_off = _sh_pass(pts, cur_off, axis, bound, keep_ge)
        if len(pts) == 0:
            break
    out_lens = np.diff(cur_off)
    ok = out_lens >= 3
    # close surviving rings (append first point) and area-check
    sel_vert = ok[np.searchsorted(cur_off, np.arange(len(pts)),
                                  side="right") - 1] if len(pts) else \
        np.zeros(0, dtype=bool)
    kept = pts[sel_vert]
    klens = out_lens[ok]
    kout = np.concatenate([[0], np.cumsum(klens + 1)])
    closed_pts = np.empty((int(kout[-1]), 2))
    # scatter: ring r occupies kout[r]..kout[r+1]; last slot = first pt
    src_off = np.concatenate([[0], np.cumsum(klens)])
    vidx = np.arange(len(kept))
    ring_of = np.searchsorted(src_off, vidx, side="right") - 1
    closed_pts[vidx + ring_of] = kept
    closed_pts[kout[1:] - 1] = kept[src_off[:-1]]
    # zero-area drop (shoelace on the closed float ring, scalar order)
    if len(closed_pts):
        x = closed_pts[:, 0]
        y = closed_pts[:, 1]
        c = x[:-1] * y[1:] - x[1:] * y[:-1]
        c[kout[1:-1] - 1] = 0.0            # cross-ring boundary pairs
        area = 0.5 * np.add.reduceat(
            np.concatenate([c, [0.0]]), kout[:-1])
        nz = area != 0.0
    else:
        nz = np.zeros(0, dtype=bool)
    ring_ok = np.zeros(nrings, dtype=bool)
    ok_idx = np.flatnonzero(ok)
    ring_ok[ok_idx[nz]] = True
    # filter zero-area rings out of closed_pts
    if not nz.all():
        vsel = nz[np.searchsorted(kout, np.arange(len(closed_pts)),
                                  side="right") - 1]
        closed_pts = closed_pts[vsel]
        klens2 = (klens + 1)[nz]
        kout = np.concatenate([[0], np.cumsum(klens2)])
    return closed_pts, kout, ring_ok


def _ring_areas_int(snapped, off):
    """Signed shoelace per closed ring over int64 snapped coords,
    computed in float (scalar: G.ring_area(snapped.astype(float)))."""
    f = snapped.astype(np.float64)
    x = f[:, 0]
    y = f[:, 1]
    if len(f) == 0:
        return np.zeros(len(off) - 1)
    c = x[:-1] * y[1:] - x[1:] * y[:-1]
    c = np.concatenate([c, [0.0]])
    c[off[1:-1] - 1] = 0.0
    return 0.5 * np.add.reduceat(c, off[:-1])


def finalize_rings(snapped, off):
    """as_mvt_geom polygon tail for already snap-deduped CLOSED-or-not
    rings: re-close where the closing vertex deduped away, drop <4-pt
    and zero-area rings, and fix winding (shell positive / hole negative
    is applied by the caller, which knows shell flags).
    Returns (pts, off, ring_len_ok_mask, areas) — winding NOT applied.
    """
    nr = len(off) - 1
    if nr == 0:
        return snapped, off, np.zeros(0, dtype=bool), np.zeros(0)
    lens = np.diff(off)
    first = off[:-1]
    last = off[1:] - 1
    need_close = np.zeros(nr, dtype=bool)
    ne = lens > 0
    need_close[ne] = (snapped[last[ne]] != snapped[first[ne]]).any(axis=1)
    # append first point where needed
    add = need_close.astype(np.int64)
    new_off = np.concatenate([[0], np.cumsum(lens + add)])
    out = np.empty((int(new_off[-1]), 2), dtype=np.int64)
    vidx = np.arange(len(snapped))
    ring_of = np.searchsorted(off, vidx, side="right") - 1
    shift = np.concatenate([[0], np.cumsum(add)])[:-1]
    out[vidx + shift[ring_of]] = snapped
    cl = np.flatnonzero(need_close)
    out[new_off[cl + 1] - 1] = snapped[first[cl]]
    lens2 = np.diff(new_off)
    len_ok = lens2 >= 4
    areas = _ring_areas_int(out, new_off)
    return out, new_off, len_ok, areas


def reverse_rings(pts, off, rev_mask):
    """Reverse the vertex order of the rings flagged in rev_mask
    (winding fix, scalar `snapped[::-1]`) — in place via permutation."""
    if not rev_mask.any():
        return pts
    lens = np.diff(off)
    ring_of = np.searchsorted(off, np.arange(len(pts)), side="right") - 1
    local = np.arange(len(pts)) - off[ring_of]
    rev_v = rev_mask[ring_of]
    perm = np.arange(len(pts))
    perm[rev_v] = (off[ring_of] + lens[ring_of] - 1 - local)[rev_v]
    return pts[perm]


# ===================================================================
# command-stream encode (batch)
# ===================================================================

_MOVETO1 = 1 | (1 << 3)
_CLOSE = 7 | (1 << 3)


def encode_cmd_streams(coords, part_off, part_row, n_rows: int,
                       family: int):
    """Build the MVT geometry command stream for every row of a family
    at once. coords: int64 tile-local vertices; for GEOM_POLYGON parts
    are OPEN rings (closing dup already removed); for GEOM_POINT each
    row has exactly one part (its kept points). Cursor state (delta
    base) resets per row and carries across parts within a row — the
    scalar encode_geometry contract.

    Returns (geom_streams: list[bytes | None] of len n_rows) where None
    means the row had no parts.
    """
    nparts = len(part_off) - 1
    out: list = [None] * n_rows
    if nparts == 0:
        return out
    lens = np.diff(part_off)
    # ---- per-vertex deltas (cursor resets at each row's first vertex)
    vert_part = np.repeat(np.arange(nparts), lens)
    vert_row = part_row[vert_part]
    prev = np.empty_like(coords)
    prev[1:] = coords[:-1]
    prev[0] = 0
    row_first_vert = np.concatenate(
        [[0], np.flatnonzero(vert_row[1:] != vert_row[:-1]) + 1]) \
        if len(vert_row) else np.empty(0, dtype=np.int64)
    prev[row_first_vert] = 0
    dx = coords[:, 0] - prev[:, 0]
    dy = coords[:, 1] - prev[:, 1]
    zzx = ((dx << 1) ^ (dx >> 63)).view(np.uint64)
    zzy = ((dy << 1) ^ (dy >> 63)).view(np.uint64)

    # ---- command-stream value layout per part
    if family == GEOM_POINT:
        nvals = 1 + 2 * lens
    elif family == GEOM_LINESTRING:
        nvals = 2 + 2 * lens
    else:
        nvals = 3 + 2 * lens
    val_off = np.concatenate([[0], np.cumsum(nvals)])
    vals = np.zeros(int(val_off[-1]), dtype=np.uint64)
    # command words
    if family == GEOM_POINT:
        vals[val_off[:-1]] = (1 | (lens << 3)).astype(np.uint64)
    else:
        vals[val_off[:-1]] = _MOVETO1
        vals[val_off[:-1] + 3] = (2 | ((lens - 1) << 3)).astype(np.uint64)
        if family == GEOM_POLYGON:
            vals[val_off[1:] - 1] = _CLOSE
    # vertex deltas
    local = np.arange(len(coords)) - part_off[vert_part]
    if family == GEOM_POINT:
        tgt = val_off[vert_part] + 1 + 2 * local
    else:
        tgt = val_off[vert_part] + np.where(local == 0, 1, 2 + 2 * local)
    vals[tgt] = zzx
    vals[tgt + 1] = zzy

    # ---- varint pack the whole family, then frame per row
    nb = _varint_nbytes(vals)
    # per-row value spans
    part_nvals_by_row = np.bincount(part_row, weights=nvals.astype(np.float64),
                                    minlength=n_rows).astype(np.int64)
    rows_present = np.flatnonzero(part_nvals_by_row)
    # byte offsets of each value within its row's stream
    boff = np.concatenate([[0], np.cumsum(nb)])
    row_val_off = np.concatenate(
        [[0], np.cumsum(part_nvals_by_row)])  # value index at row start
    row_byte_start = boff[row_val_off]
    glen = row_byte_start[1:] - row_byte_start[:-1]  # bytes per row
    # frame: 0x22 varint(glen) stream
    nb_glen = np.zeros(n_rows, dtype=np.int64)
    nb_glen[rows_present] = _varint_nbytes(
        glen[rows_present].astype(np.uint64))
    frame_total = np.where(part_nvals_by_row > 0, 1 + nb_glen + glen, 0)
    frame_off = np.concatenate([[0], np.cumsum(frame_total)])
    buf = np.zeros(int(frame_off[-1]), dtype=np.uint8)
    fs = frame_off[:-1][rows_present]
    buf[fs] = 0x22
    _write_varints(buf, fs + 1, glen[rows_present].astype(np.uint64),
                   nb_glen[rows_present])
    # value byte positions: row frame start + header + offset within row
    vrow = np.repeat(np.arange(n_rows), part_nvals_by_row)
    vpos = (frame_off[:-1] + 1 + nb_glen)[vrow] + \
        (boff[:-1] - row_byte_start[vrow])
    _write_varints(buf, vpos, vals, nb)
    blob = buf.tobytes()
    for r in rows_present.tolist():
        out[r] = blob[frame_off[r]:frame_off[r + 1]]
    return out


# ===================================================================
# full per-batch pipeline
# ===================================================================

def wkb_row_fields_vec(blobs, z, x, y, extent: int, mvt_buffer: int):
    """ST_AsMVTGeom + geometry wire-encode for a batch of WKB rows.

    blobs: object array of WKB bytes; z/x/y: int arrays (tile per row).
    Returns (geom_fields, gtypes): geom_fields[i] is the framed geometry
    field bytes (0x22 len stream) or None when the geometry clips away
    entirely (scalar as_mvt_geom -> None); gtypes[i] in {1,2,3} or 0.
    """
    n = len(blobs)
    geom_fields: list = [None] * n
    gtypes = np.zeros(n, dtype=np.int8)
    pt, ln, pg = decode_wkb_batch(blobs)
    xmin, ymax, scale = tile_transform_params(z, x, y, extent)
    lo, hi = -float(mvt_buffer), float(extent + mvt_buffer)

    # ---------------- points
    if len(pt.part_row):
        vpart = _vert_owner(pt.off, np.arange(len(pt.part_row)))
        t = _transform(pt.coords, pt.part_row[vpart], xmin, ymax, scale)
        m = (t[:, 0] >= lo) & (t[:, 0] <= hi) & \
            (t[:, 1] >= lo) & (t[:, 1] <= hi)
        kept = np.rint(t[m]).astype(np.int64)
        counts = np.bincount(vpart[m], minlength=len(pt.part_row))
        good = counts > 0
        if good.any():
            part_off = np.concatenate([[0], np.cumsum(counts[good])])
            streams = encode_cmd_streams(
                kept, part_off, np.arange(int(good.sum())), int(good.sum()),
                GEOM_POINT)
            for k, r in enumerate(pt.part_row[good].tolist()):
                geom_fields[r] = streams[k]
                gtypes[r] = GEOM_POINT

    # ---------------- lines
    if len(ln.part_row):
        vrow = _vert_owner(ln.off, ln.part_row)
        t = _transform(ln.coords, vrow, xmin, ymax, scale)
        out, sub_off, sub_part = clip_lines_batch(t, ln.off, lo, hi)
        snapped, s_off, good = snap_dedupe(out, sub_off, 2)
        if good.any():
            srow = ln.part_row[sub_part[good]]
            # compact row ids for the encode (preserve order)
            urow, inv = np.unique(srow, return_inverse=True)
            streams = encode_cmd_streams(
                snapped, s_off, inv, len(urow), GEOM_LINESTRING)
            for k, r in enumerate(urow.tolist()):
                geom_fields[r] = streams[k]
                gtypes[r] = GEOM_LINESTRING

    # ---------------- polygons
    if pg.poly_row is not None and len(pg.poly_row):
        ring_poly = pg.part_poly
        vpoly = _vert_owner(pg.off, ring_poly)
        vrow = pg.poly_row[vpoly]
        t = _transform(pg.coords, vrow, xmin, ymax, scale)
        clipped, c_off, ring_ok = clip_rings_batch(t, pg.off, lo, hi)
        # dead polygons: shell ring failed the clip
        shell_dead = pg.ring_is_shell & ~ring_ok
        poly_dead = np.zeros(len(pg.poly_row), dtype=bool)
        poly_dead[ring_poly[shell_dead]] = True
        # snap + dedupe surviving rings
        snapped, s_off, dd_ok = snap_dedupe(clipped, c_off, 1)
        # rings surviving the clip, in order
        surv_idx = np.flatnonzero(ring_ok)          # into original rings
        surv_idx = surv_idx[dd_ok]                  # dedupe min_pts=1 keep
        out2, off2, len_ok, areas = finalize_rings(snapped, s_off)
        is_shell = pg.ring_is_shell[surv_idx]
        valid = len_ok & (areas != 0.0)
        shell_fail = is_shell & ~valid
        poly_dead[ring_poly[surv_idx[shell_fail]]] = True
        keep_ring = valid & ~poly_dead[ring_poly[surv_idx]]
        if keep_ring.any():
            # winding: shell positive, hole negative (tile coords y-down)
            want_pos = is_shell
            rev = ((areas > 0) != want_pos) & keep_ring
            out2 = reverse_rings(out2, off2, rev)
            # filter kept rings; drop the closing dup for the encoder
            lens2 = np.diff(off2)
            vsel = keep_ring[np.searchsorted(
                off2, np.arange(len(out2)), side="right") - 1]
            # also drop each kept ring's last vertex (== first)
            last_pos = (off2[1:] - 1)[keep_ring]
            vsel[last_pos] = False
            coords3 = out2[vsel]
            open_lens = (lens2 - 1)[keep_ring]
            off3 = np.concatenate([[0], np.cumsum(open_lens)])
            ring_rows = pg.poly_row[ring_poly[surv_idx[keep_ring]]]
            urow, inv = np.unique(ring_rows, return_inverse=True)
            streams = encode_cmd_streams(
                coords3, off3, inv, len(urow), GEOM_POLYGON)
            for k, r in enumerate(urow.tolist()):
                geom_fields[r] = streams[k]
                gtypes[r] = GEOM_POLYGON

    return geom_fields, gtypes


def fid_fields_vec(fids) -> list:
    """Framed feature-id fields (0x08 varint(fid)) for a batch — the
    feature-id wire pieces of every layer kind (mvt._row_builder)."""
    n = len(fids)
    fid_arr = np.asarray(fids, dtype=np.int64).view(np.uint64)
    nb = _varint_nbytes(fid_arr)
    total = 1 + nb
    offs = np.zeros(n, dtype=np.int64)
    if n > 1:
        offs[1:] = np.cumsum(total[:-1])
    buf = np.zeros(int(total.sum()), dtype=np.uint8)
    buf[offs] = 0x08
    _write_varints(buf, offs + 1, fid_arr, nb)
    blob = buf.tobytes()
    return [blob[a:b] for a, b in zip(offs.tolist(), (offs + total).tolist())]
