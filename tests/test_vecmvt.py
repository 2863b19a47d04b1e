"""Byte-parity fuzz: the batch-vectorized WKB->MVT geometry pipeline
(functions/vecmvt.py) must reproduce the scalar reference in
tests/mvt_oracle.py — wkb_loads -> as_mvt_geom -> encode_geometry (+ the
0x22 length framing) — bit for bit, including which rows drop entirely;
its WKB batch decoder must match the per-blob decode_wkb_reference. No
Spark needed."""

import struct

import numpy as np
import pytest

from mvt_oracle import as_mvt_geom, decode_wkb_reference
from sparktiles.functions import geom as G
from sparktiles.functions import mvtcodec as C
from sparktiles.functions.vecmvt import (
    decode_wkb_batch,
    fid_fields_vec,
    wkb_row_fields_vec,
)

EXTENT = 4096
HALF = 20037508.34278925


def scalar_geom_field(wkb, z, x, y, buf):
    g = G.wkb_loads(bytes(wkb))
    mg = as_mvt_geom(g, z, x, y, EXTENT, buf, clip=True)
    if mg is None:
        return None, 0
    geom = C.encode_geometry(mg[0], mg[1])
    return b"\x22" + C._varint(len(geom)) + geom, mg[0]


def run_parity(wkbs, zs, xs, ys, buf):
    gf, gt = wkb_row_fields_vec(
        np.array(wkbs, dtype=object),
        np.asarray(zs), np.asarray(xs), np.asarray(ys), EXTENT, buf)
    for i, w in enumerate(wkbs):
        want, want_t = scalar_geom_field(w, int(zs[i]), int(xs[i]),
                                         int(ys[i]), buf)
        if want is None:
            assert gf[i] is None, f"row {i}: vec emitted, scalar dropped"
        else:
            assert gf[i] is not None, f"row {i}: vec dropped, scalar kept"
            assert gt[i] == want_t, f"row {i}: gtype {gt[i]} != {want_t}"
            assert bytes(gf[i]) == want, f"row {i}: geometry bytes differ"


def rand_line(rng, cx, cy, span):
    n = rng.integers(2, 9)
    pts = np.cumsum(rng.normal(0, span / 4, size=(n, 2)), axis=0)
    return pts + [cx, cy]


def rand_ring(rng, cx, cy, span):
    n = int(rng.integers(3, 9))
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    rad = rng.uniform(span / 8, span, n)
    ring = np.stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)], axis=1)
    return np.vstack([ring, ring[:1]])


@pytest.mark.parametrize("buf", [0, 256])
def test_lines_parity_fuzz(buf):
    rng = np.random.default_rng(42 + buf)
    wkbs, zs, xs, ys = [], [], [], []
    for _ in range(300):
        z = int(rng.integers(0, 7))
        n = 2 ** z
        x, y = int(rng.integers(0, n)), int(rng.integers(0, n))
        size = 2 * HALF / n
        # center near the tile (sometimes far outside)
        cx = -HALF + (x + rng.uniform(-1.5, 2.5)) * size
        cy = HALF - (y + rng.uniform(-1.5, 2.5)) * size
        if rng.random() < 0.25:
            parts = [rand_line(rng, cx, cy, size * rng.uniform(0.01, 2))
                     for _ in range(rng.integers(1, 4))]
            g = ("MultiLineString", parts)
        elif rng.random() < 0.1:
            p = np.array([[cx, cy], [cx, cy]])  # zero-length degenerate
            g = ("LineString", p)
        else:
            g = ("LineString", rand_line(rng, cx, cy, size * rng.uniform(0.01, 3)))
        wkbs.append(G.wkb_dumps(g, srid=3857 if rng.random() < 0.5 else None))
        zs.append(z)
        xs.append(x)
        ys.append(y)
    run_parity(wkbs, zs, xs, ys, buf)


@pytest.mark.parametrize("buf", [0, 128])
def test_polygons_parity_fuzz(buf):
    rng = np.random.default_rng(7 + buf)
    wkbs, zs, xs, ys = [], [], [], []
    for _ in range(300):
        z = int(rng.integers(0, 6))
        n = 2 ** z
        x, y = int(rng.integers(0, n)), int(rng.integers(0, n))
        size = 2 * HALF / n
        cx = -HALF + (x + rng.uniform(-1.0, 2.0)) * size
        cy = HALF - (y + rng.uniform(-1.0, 2.0)) * size
        r = rng.random()
        if r < 0.2:
            # rect with a hole
            w = size * rng.uniform(0.05, 1.5)
            shell = np.array([[cx, cy], [cx + w, cy], [cx + w, cy + w],
                              [cx, cy + w], [cx, cy]])
            hw = w * 0.3
            hole = np.array([[cx + hw, cy + hw], [cx + 2 * hw, cy + hw],
                             [cx + 2 * hw, cy + 2 * hw], [cx + hw, cy + 2 * hw],
                             [cx + hw, cy + hw]])[::-1]
            g = ("Polygon", [shell, hole])
        elif r < 0.35:
            g = ("MultiPolygon",
                 [[rand_ring(rng, cx + k * size * 0.7, cy, size * 0.4)]
                  for k in range(int(rng.integers(1, 4)))])
        elif r < 0.45:
            # tiny sliver that may snap to zero area
            eps = size * 10 ** rng.uniform(-7, -3)
            g = ("Polygon", [np.array(
                [[cx, cy], [cx + size * 0.5, cy + eps], [cx + size * 0.5, cy],
                 [cx, cy]])])
        elif r < 0.5:
            g = ("Polygon", [])  # empty
        else:
            g = ("Polygon", [rand_ring(rng, cx, cy, size * rng.uniform(0.02, 2))])
        wkbs.append(G.wkb_dumps(g, srid=3857 if rng.random() < 0.5 else None))
        zs.append(z)
        xs.append(x)
        ys.append(y)
    run_parity(wkbs, zs, xs, ys, buf)


def test_points_and_mixed_parity():
    rng = np.random.default_rng(99)
    wkbs, zs, xs, ys = [], [], [], []
    for _ in range(200):
        z = int(rng.integers(0, 7))
        n = 2 ** z
        x, y = int(rng.integers(0, n)), int(rng.integers(0, n))
        size = 2 * HALF / n
        cx = -HALF + (x + rng.uniform(-0.5, 1.5)) * size
        cy = HALF - (y + rng.uniform(-0.5, 1.5)) * size
        r = rng.random()
        if r < 0.3:
            g = ("Point", (cx, cy))
        elif r < 0.5:
            pts = np.stack([cx + rng.normal(0, size, 4),
                            cy + rng.normal(0, size, 4)], axis=1)
            g = ("MultiPoint", pts)
        elif r < 0.7:
            g = ("LineString", rand_line(rng, cx, cy, size))
        else:
            g = ("Polygon", [rand_ring(rng, cx, cy, size * 0.5)])
        wkbs.append(G.wkb_dumps(g, srid=3857))
        zs.append(z)
        xs.append(x)
        ys.append(y)
    # plus hand-picked edge rows (incl. a BIG-ENDIAN LineString — the
    # WKB spec allows either byte order; scalar wkb_loads handles both)
    be_pts = np.array([[-1e6, 2e6], [3e6, -4e6], [5e6, 6e6]])
    be_line = (b"\x00" + struct.pack(">I", 2) + struct.pack(">I", len(be_pts))
               + be_pts.astype(">f8").tobytes())
    wkbs += [
        G.wkb_dumps(("Point", None)),                      # POINT EMPTY
        G.wkb_dumps(("LineString", np.array([[0.0, 0.0], [0.0, 0.0]]))),
        G.wkb_dumps(("Polygon", [np.array(
            [[0, 0], [10, 0], [0, 10], [10, 10], [0, 0]], dtype=float) * 1000])),
        G.wkb_dumps(("GeometryCollection", [("Point", (0.0, 0.0))])),
        be_line,
    ]
    zs += [1, 1, 3, 2, 2]
    xs += [0, 1, 4, 1, 1]
    ys += [0, 1, 3, 1, 1]
    run_parity(wkbs, zs, xs, ys, 64)


def test_fid_fields_parity():
    fids = [0, 1, 127, 128, 10_001, 2**40 + 7]
    got = fid_fields_vec(fids)
    for f, g in zip(fids, got):
        assert g == b"\x08" + C._varint(f)


def test_mixed_endian_multi_children_parity():
    """Spec-valid WKB lets every child of a Multi* carry its own byte
    order (and EWKB its own SRID flag); the scalar reader honors them
    recursively. The batch decoder must match — incl. the MultiPoint
    bulk-read fast path falling back cleanly (ADVICE round-3)."""
    def point(xy, big=False, srid=None):
        fmt = ">" if big else "<"
        code = 1 | (0x20000000 if srid else 0)
        b = (b"\x00" if big else b"\x01") + struct.pack(fmt + "I", code)
        if srid:
            b += struct.pack(fmt + "I", srid)
        return b + struct.pack(fmt + "dd", *xy)

    def line(pts, big=False):
        fmt = ">" if big else "<"
        return ((b"\x00" if big else b"\x01") + struct.pack(fmt + "I", 2)
                + struct.pack(fmt + "I", len(pts))
                + np.asarray(pts, dtype=fmt + "f8").tobytes())

    def poly(rings, big=False):
        fmt = ">" if big else "<"
        b = (b"\x00" if big else b"\x01") + struct.pack(fmt + "I", 3)
        b += struct.pack(fmt + "I", len(rings))
        for r in rings:
            b += struct.pack(fmt + "I", len(r))
            b += np.asarray(r, dtype=fmt + "f8").tobytes()
        return b

    def multi(code, children, big=False):
        fmt = ">" if big else "<"
        return ((b"\x00" if big else b"\x01") + struct.pack(fmt + "I", code)
                + struct.pack(fmt + "I", len(children)) + b"".join(children))

    s = 2 * HALF / 4  # z2 tile size
    p0 = (-HALF + 1.2 * s, HALF - 1.3 * s)
    p1 = (-HALF + 1.7 * s, HALF - 1.6 * s)
    ln0 = [[p0[0], p0[1]], [p1[0], p1[1]], [p0[0] + s / 3, p0[1] - s / 2]]
    ring = np.array([[p0[0], p0[1]], [p1[0], p0[1]], [p1[0], p1[1]],
                     [p0[0], p1[1]], [p0[0], p0[1]]])
    wkbs = [
        # MultiPoint: mixed child endianness + one EWKB-SRID child
        multi(4, [point(p0), point(p1, big=True), point(p0, srid=3857)]),
        # MultiPoint all-little (bulk fast path), all-big parent+children
        multi(4, [point(p0), point(p1)]),
        multi(4, [point(p0, big=True), point(p1, big=True)], big=True),
        # MultiLineString: big-endian child inside little parent
        multi(5, [line(ln0), line(ln0[::-1], big=True)]),
        # MultiPolygon: big parent, little children / little parent, big child
        multi(6, [poly([ring]), poly([ring * 0.98])], big=True),
        multi(6, [poly([ring], big=True)]),
    ]
    zs = [2] * len(wkbs)
    xs = [1] * len(wkbs)
    ys = [1] * len(wkbs)
    run_parity(wkbs, zs, xs, ys, 64)


def test_decode_wkb_batch_matches_reference():
    """decode_wkb_batch must produce exactly the per-blob reference's
    flat family structures (mvt_oracle.decode_wkb_reference, built on
    geom.wkb_loads) for every geometry type, including adjacent-
    duplicate runs, Nones, NaN-empty points, empty rings/parts, empty
    shells, GeometryCollections and multi-geometries; across uniform
    little- and big-endian batches, top-level EWKB SRID flags, child
    headers with their own SRID flag or byte order, and batches that
    mix byte orders from row to row."""
    rng = np.random.RandomState(123)

    def w(fmt, *vals):
        return struct.pack(fmt, *vals)

    class Hdr:
        """Header style of one batch: byte-order choice per header and
        how often a header carries an EWKB SRID."""

        def __init__(self, fmts, srid_p):
            self.fmts, self.srid_p = fmts, srid_p

        def fmt(self):
            return self.fmts[rng.randint(len(self.fmts))]

        def head(self, fmt, code):
            srid = rng.rand() < self.srid_p
            return ((b"\x01" if fmt == "<" else b"\x00")
                    + w(fmt + "I", code | (0x20000000 if srid else 0))
                    + (w(fmt + "I", 3857) if srid else b""))

    def xy(fmt, n):
        return b"".join(w(fmt + "dd", *(rng.randn(2) * 1e6))
                        for _ in range(n))

    def pt(h, fmt, nan=False):
        body = w(fmt + "dd", np.nan, np.nan) if nan else xy(fmt, 1)
        return h.head(fmt, 1) + body

    def mpt(h, fmt, npts):
        return h.head(fmt, 4) + w(fmt + "I", npts) + b"".join(
            pt(h, h.fmt()) for _ in range(npts))

    def ls(h, fmt, nv):
        return h.head(fmt, 2) + w(fmt + "I", nv) + xy(fmt, nv)

    def mls(h, fmt, parts):
        return h.head(fmt, 5) + w(fmt + "I", len(parts)) + b"".join(
            ls(h, h.fmt(), nv) for nv in parts)

    def poly(h, fmt, rings):
        return h.head(fmt, 3) + w(fmt + "I", len(rings)) + b"".join(
            w(fmt + "I", nv) + xy(fmt, nv) for nv in rings)

    def mpoly(h, fmt, polys):
        return h.head(fmt, 6) + w(fmt + "I", len(polys)) + b"".join(
            poly(h, h.fmt(), rings) for rings in polys)

    def gen_one(h):
        fmt = h.fmt()
        r = rng.randint(13)
        if r == 0:
            return None
        if r == 1:
            return pt(h, fmt, nan=True)
        if r == 2:
            return pt(h, fmt)
        if r == 3:
            return mpt(h, fmt, rng.randint(0, 4))
        if r == 4:
            return ls(h, fmt, rng.randint(0, 6))
        if r == 5:
            return mls(h, fmt, [rng.randint(0, 5)
                                for _ in range(rng.randint(0, 4))])
        if r == 6:
            return poly(h, fmt, [rng.randint(0, 6)
                                 for _ in range(rng.randint(0, 4))])
        if r == 7:
            return mpoly(h, fmt, [[rng.randint(0, 5)
                                   for _ in range(rng.randint(0, 3))]
                                  for _ in range(rng.randint(0, 3))])
        if r == 8:
            return h.head(fmt, 7) + w(fmt + "I", 0)  # empty collection
        if r == 9:
            return (h.head(fmt, 7) + w(fmt + "I", 1)  # collection
                    + pt(h, h.fmt()))
        if r == 10:
            return poly(h, fmt, [5, 0, 4])           # empty hole
        if r == 11:
            return poly(h, fmt, [0, 4])              # empty shell
        return mls(h, fmt, [3])

    styles = [
        Hdr("<", 0.0), Hdr(">", 0.0),                # plain WKB
        Hdr("<", 1.0), Hdr(">", 1.0),                # every header EWKB
        Hdr("<>", 0.0),                              # mixed byte order
        Hdr("<>", 0.5),                              # mixed order + SRID
    ]
    for trial in range(36):
        h = styles[trial % len(styles)]
        items = []
        for _ in range(rng.randint(1, 40)):
            g = gen_one(h)
            items.extend([g] * rng.randint(1, 4))  # adjacent-dup runs
        blobs = np.array(items, dtype=object)
        pt_, ln_, pg_ = decode_wkb_batch(blobs)
        ref = decode_wkb_reference(blobs)
        got = {
            "pt": (pt_.coords, pt_.off, pt_.part_row),
            "ln": (ln_.coords, ln_.off, ln_.part_row),
            "pg": (pg_.coords, pg_.off, pg_.part_poly, pg_.poly_row,
                   pg_.ring_is_shell),
        }
        for fam, arrays in ref.items():
            for k, (a, b) in enumerate(zip(got[fam], arrays)):
                assert np.array_equal(np.asarray(a), np.asarray(b)), \
                    (trial, fam, k)


def test_decode_wkb_batch_raises_on_bad_blobs():
    """A truncated or corrupt blob raises instead of decoding to a
    short or borrowed geometry, at every structure level, whether it
    sits mid-batch or last."""
    rng = np.random.RandomState(7)

    def head(code):
        return b"\x01" + struct.pack("<I", code)

    def ls(nv, claim=None):
        b = head(2) + struct.pack("<I", claim if claim is not None else nv)
        for _ in range(nv):
            b += struct.pack("<dd", *(rng.randn(2) * 1e6))
        return b

    def poly(rings, claim_first=None):
        b = head(3) + struct.pack("<I", len(rings))
        for k, nv in enumerate(rings):
            n_claim = claim_first if (k == 0 and claim_first) else nv
            b += struct.pack("<I", n_claim)
            for _ in range(nv):
                b += struct.pack("<dd", *(rng.randn(2) * 1e6))
        return b

    good = ls(4)
    bad_cases = [
        ls(4, claim=10),                 # LineString: count > held verts
        ls(4)[:-5],                      # truncated coord bytes
        head(1) + b"\x00" * 8,           # Point: 8 of 16 coord bytes
        head(4) + struct.pack("<I", 3) + (head(1) + b"\x00" * 16),  # MultiPoint
        poly([4, 4], claim_first=9),     # Polygon ring overruns
        head(5) + struct.pack("<I", 2) + ls(3),   # MultiLineString missing part
        head(6) + struct.pack("<I", 1) + poly([4], claim_first=7),  # MPoly
    ]
    for j, bad in enumerate(bad_cases):
        for blobs in ([good, bad, good], [good, bad]):  # bad mid + bad LAST
            with pytest.raises((struct.error, ValueError, IndexError)):
                decode_wkb_batch(np.array(blobs, dtype=object))
    # a well-formed batch decodes
    assert len(decode_wkb_batch(np.array([good, good], dtype=object))[1]
               .part_row) == 2
