"""Pure-numpy geometry kernels (no GEOS in this environment).

Geometries are (type, coords) pairs:
  ("Point", (x, y))                      | None coords => empty
  ("LineString", ndarray[N,2])
  ("Polygon", [ring0, ring1, ...])       rings = ndarray[N,2], closed
  ("MultiPoint", [pt, ...]), ("MultiLineString", [ls, ...]),
  ("MultiPolygon", [[rings], ...])

Semantics match the reference's PostGIS helpers where golden-tested:
- to_point       -> reference sql/ToPoint.sql:24-47 (branch order:
                    MakeValid, POINT passthrough, empty->None,
                    (MULTI)POLYGON npoints<=5 -> centroid, else
                    point-on-surface) with goldens
                    tests/expected/ToPoint.sql.out incl. the concave
                    POINT(92.5 110) case
- interior_point -> GEOS InteriorPointArea: horizontal bisector at the
                    midpoint between the vertex Ys straddling the
                    envelope centre; widest crossing; ties -> later wins
- simplify       -> Douglas-Peucker, non-topology-preserving
                    (ST_Simplify used by generalized tables,
                    reference openmaptiles/imposm.py:34-45)

The MVT geometry step's rect clip (ST_AsMVTGeom, sqltomvt.py:202-207)
runs batch-vectorized in functions/vecmvt.py; its scalar reference
(clip_line_rect / clip_ring_rect / clip_to_rect) lives with the tests in
tests/mvt_oracle.py.

WKB codec supports the PostGIS EWKB SRID flag so the ToPoint golden hex
strings (SRID=900913) round-trip exactly.
"""

from __future__ import annotations

import math
import struct

import numpy as np

_WKB_TYPES = {
    1: "Point", 2: "LineString", 3: "Polygon",
    4: "MultiPoint", 5: "MultiLineString", 6: "MultiPolygon",
    7: "GeometryCollection",
}
_WKB_CODES = {v: k for k, v in _WKB_TYPES.items()}
_SRID_FLAG = 0x20000000


# ------------------------------------------------------------------ WKB

def wkb_dumps(geom, srid: int | None = None) -> bytes:
    """Little-endian (E)WKB. srid set => PostGIS EWKB SRID flag."""
    gtype, coords = geom
    code = _WKB_CODES[gtype]
    head = b"\x01" + struct.pack("<I", code | (_SRID_FLAG if srid else 0))
    if srid:
        head += struct.pack("<I", srid)

    def pts(arr) -> bytes:
        arr = np.asarray(arr, dtype="<f8").reshape(-1, 2)
        return struct.pack("<I", len(arr)) + arr.tobytes()

    if gtype == "Point":
        if coords is None:
            return head + struct.pack("<dd", math.nan, math.nan)
        return head + struct.pack("<dd", float(coords[0]), float(coords[1]))
    if gtype == "LineString":
        return head + pts(coords)
    if gtype == "Polygon":
        body = struct.pack("<I", len(coords))
        for ring in coords:
            body += pts(ring)
        return head + body
    if gtype in ("MultiPoint", "MultiLineString", "MultiPolygon", "GeometryCollection"):
        inner = {"MultiPoint": "Point", "MultiLineString": "LineString",
                 "MultiPolygon": "Polygon"}.get(gtype)
        body = struct.pack("<I", len(coords))
        for part in coords:
            body += wkb_dumps(part if gtype == "GeometryCollection" else (inner, part))
        return head + body
    raise ValueError(gtype)


def wkb_loads(buf: bytes):
    geom, _ = _wkb_read(memoryview(buf), 0)
    return geom


def wkb_srid(buf: bytes) -> int | None:
    code = struct.unpack_from("<I", buf, 1)[0]
    return struct.unpack_from("<I", buf, 5)[0] if code & _SRID_FLAG else None


def _wkb_read(mv, off):
    little = mv[off] == 1
    fmt = "<" if little else ">"
    code = struct.unpack_from(fmt + "I", mv, off + 1)[0]
    off += 5
    if code & _SRID_FLAG:
        off += 4
        code &= ~_SRID_FLAG
    gtype = _WKB_TYPES[code & 0xFF]

    def read_pts(o):
        n = struct.unpack_from(fmt + "I", mv, o)[0]
        o += 4
        arr = np.frombuffer(mv, dtype=fmt + "f8", count=2 * n, offset=o).reshape(n, 2)
        return arr.copy(), o + 16 * n

    if gtype == "Point":
        x, y = struct.unpack_from(fmt + "dd", mv, off)
        coords = None if (math.isnan(x) and math.isnan(y)) else (x, y)
        return (gtype, coords), off + 16
    if gtype == "LineString":
        arr, off = read_pts(off)
        return (gtype, arr), off
    if gtype == "Polygon":
        nr = struct.unpack_from(fmt + "I", mv, off)[0]
        off += 4
        rings = []
        for _ in range(nr):
            r, off = read_pts(off)
            rings.append(r)
        return (gtype, rings), off
    # multi / collection
    n = struct.unpack_from(fmt + "I", mv, off)[0]
    off += 4
    parts = []
    for _ in range(n):
        g, off = _wkb_read(mv, off)
        parts.append(g if gtype == "GeometryCollection" else g[1])
    return (gtype, parts), off


# ------------------------------------------------------------------ WKT (tests)

def wkt_loads(s: str):
    s = s.strip()
    head, _, rest = s.partition("(")
    head = head.strip().upper()
    if head.endswith("EMPTY") or rest == "":
        t = head.replace(" EMPTY", "").title().replace("string", "String").replace(
            "point", "Point").replace("polygon", "Polygon").replace("line", "Line")
        t = {"POINT": "Point", "POLYGON": "Polygon", "LINESTRING": "LineString",
             "MULTIPOLYGON": "MultiPolygon"}.get(head.split()[0], t)
        return (t, None if t == "Point" else [])
    body = s[s.index("("):]

    def parse_ring(txt):
        pts = [tuple(float(v) for v in p.split()) for p in txt.split(",")]
        return np.array(pts, dtype=float)

    if head == "POINT":
        x, y = (float(v) for v in body.strip("() ").split())
        return ("Point", (x, y))
    if head == "LINESTRING":
        return ("LineString", parse_ring(body.strip("() ")))
    if head == "POLYGON":
        rings = [parse_ring(r) for r in _split_groups(body)]
        return ("Polygon", rings)
    if head == "MULTIPOLYGON":
        polys = []
        for poly_txt in _split_groups(body):
            rings = [parse_ring(r) for r in _split_groups("(" + poly_txt + ")")]
            polys.append(rings)
        return ("MultiPolygon", polys)
    raise ValueError(head)


def _split_groups(body: str):
    """Split '((a),(b))' into ['a', 'b'] at depth 1."""
    out, depth, cur = [], 0, []
    for ch in body:
        if ch == "(":
            depth += 1
            if depth == 2:
                cur = []
                continue
        elif ch == ")":
            if depth == 2:
                out.append("".join(cur))
            depth -= 1
            continue
        if depth >= 2:
            cur.append(ch)
    return out


def wkt_dumps(geom) -> str:
    gtype, coords = geom

    def fmt(v):
        s = f"{v:.10f}".rstrip("0").rstrip(".")
        return "-0" if s == "-0" else s

    def ring_txt(arr):
        return ",".join(f"{fmt(p[0])} {fmt(p[1])}" for p in np.asarray(arr))

    if gtype == "Point":
        if coords is None:
            return "POINT EMPTY"
        return f"POINT({fmt(coords[0])} {fmt(coords[1])})"
    if gtype == "LineString":
        return f"LINESTRING({ring_txt(coords)})"
    if gtype == "Polygon":
        return "POLYGON(" + ",".join(f"({ring_txt(r)})" for r in coords) + ")"
    if gtype == "MultiPolygon":
        return "MULTIPOLYGON(" + ",".join(
            "(" + ",".join(f"({ring_txt(r)})" for r in rings) + ")" for rings in coords
        ) + ")"
    raise ValueError(gtype)


# ------------------------------------------------------------------ basics

def is_empty(geom) -> bool:
    gtype, coords = geom
    if coords is None:
        return True
    if gtype == "Point":
        return False
    return len(coords) == 0


def n_points(geom) -> int:
    gtype, coords = geom
    if coords is None:
        return 0
    if gtype == "Point":
        return 1
    if gtype == "LineString":
        return len(coords)
    if gtype == "Polygon":
        return sum(len(r) for r in coords)
    if gtype == "MultiPolygon":
        return sum(sum(len(r) for r in rings) for rings in coords)
    if gtype == "MultiLineString":
        return sum(len(ls) for ls in coords)
    if gtype == "MultiPoint":
        return len(coords)
    return sum(n_points(g) for g in coords)


def bounds(geom):
    """(xmin, ymin, xmax, ymax) or None for empty."""
    gtype, coords = geom
    if is_empty(geom):
        return None
    if gtype == "Point":
        x, y = coords
        return (x, y, x, y)
    arrs = []
    if gtype == "LineString":
        arrs = [coords]
    elif gtype == "Polygon":
        arrs = coords
    elif gtype == "MultiPolygon":
        arrs = [r for rings in coords for r in rings]
    elif gtype == "MultiLineString":
        arrs = coords
    elif gtype == "MultiPoint":
        arrs = [np.asarray(coords, dtype=float)]
    else:
        bs = [bounds(g) for g in coords]
        bs = [b for b in bs if b]
        if not bs:
            return None
        a = np.array(bs)
        return (a[:, 0].min(), a[:, 1].min(), a[:, 2].max(), a[:, 3].max())
    allp = np.vstack(arrs)
    return (allp[:, 0].min(), allp[:, 1].min(), allp[:, 0].max(), allp[:, 1].max())


def length(geom) -> float:
    gtype, coords = geom
    if is_empty(geom):
        return 0.0
    if gtype == "LineString":
        d = np.diff(np.asarray(coords, dtype=float), axis=0)
        return float(np.hypot(d[:, 0], d[:, 1]).sum())
    if gtype == "MultiLineString":
        return float(sum(length(("LineString", ls)) for ls in coords))
    return 0.0


def ring_area(ring) -> float:
    """Signed shoelace area (CCW positive)."""
    r = np.asarray(ring, dtype=float)
    x, y = r[:, 0], r[:, 1]
    return float(0.5 * np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))


def area(geom) -> float:
    gtype, coords = geom
    if is_empty(geom):
        return 0.0
    if gtype == "Polygon":
        return abs(ring_area(coords[0])) - sum(abs(ring_area(r)) for r in coords[1:])
    if gtype == "MultiPolygon":
        return sum(area(("Polygon", rings)) for rings in coords)
    return 0.0


def centroid(geom):
    """Area-weighted centroid for polygons (GEOS/PostGIS ST_Centroid)."""
    gtype, coords = geom
    if is_empty(geom):
        return None
    if gtype == "Point":
        return coords
    if gtype in ("Polygon", "MultiPolygon"):
        rings = coords if gtype == "Polygon" else [r for rs in coords for r in rs]
        cx = cy = a_sum = 0.0
        for i, ring in enumerate(rings):
            r = np.asarray(ring, dtype=float)
            x, y = r[:, 0], r[:, 1]
            cross = x[:-1] * y[1:] - x[1:] * y[:-1]
            a = 0.5 * cross.sum()
            if a == 0:
                continue
            cx += np.sum((x[:-1] + x[1:]) * cross) / 6.0
            cy += np.sum((y[:-1] + y[1:]) * cross) / 6.0
            a_sum += a
        if a_sum == 0:
            allp = np.vstack(rings)
            return (float(allp[:, 0].mean()), float(allp[:, 1].mean()))
        # Cx = (1/(6A)) * sum((x_i+x_{i+1})*cross_i); cx above = sum(...)/6
        return (cx / a_sum, cy / a_sum)
    if gtype in ("LineString", "MultiLineString"):
        lines = [coords] if gtype == "LineString" else coords
        sx = sy = tot = 0.0
        for ls in lines:
            r = np.asarray(ls, dtype=float)
            seg = np.diff(r, axis=0)
            ln = np.hypot(seg[:, 0], seg[:, 1])
            mid = (r[:-1] + r[1:]) / 2.0
            sx += float((mid[:, 0] * ln).sum())
            sy += float((mid[:, 1] * ln).sum())
            tot += float(ln.sum())
        if tot == 0:
            return None
        return (sx / tot, sy / tot)
    if gtype == "MultiPoint":
        arr = np.asarray(coords, dtype=float)
        return (float(arr[:, 0].mean()), float(arr[:, 1].mean()))
    return None


# ------------------------------------------------------- interior point

def _poly_interior_point(rings):
    """GEOS InteriorPointArea for one polygon (list of rings).
    Returns ((x, y), width)."""
    shell = np.asarray(rings[0], dtype=float)
    ys = np.unique(np.concatenate([np.asarray(r, dtype=float)[:, 1] for r in rings]))
    ymin, ymax = ys.min(), ys.max()
    centre = (ymin + ymax) / 2.0
    lo = ys[ys <= centre]
    hi = ys[ys > centre]
    bisector = centre
    if len(lo) and len(hi):
        bisector = (lo.max() + hi.min()) / 2.0
    elif len(lo):
        bisector = lo.max()
    # crossings of all rings with y = bisector
    xs = []
    for ring in rings:
        r = np.asarray(ring, dtype=float)
        y0, y1 = r[:-1, 1], r[1:, 1]
        x0, x1 = r[:-1, 0], r[1:, 0]
        mask = ((y0 <= bisector) & (y1 > bisector)) | ((y1 <= bisector) & (y0 > bisector))
        if mask.any():
            t = (bisector - y0[mask]) / (y1[mask] - y0[mask])
            xs.append(x0[mask] + t * (x1[mask] - x0[mask]))
    if not xs:
        return (float(shell[0, 0]), float(shell[0, 1])), 0.0
    xs = np.sort(np.concatenate(xs))
    best_mid, best_w = None, -1.0
    for i in range(0, len(xs) - 1, 2):
        w = xs[i + 1] - xs[i]
        if w > best_w:
            best_w = w
            best_mid = (float((xs[i] + xs[i + 1]) / 2.0), float(bisector))
    return best_mid, float(best_w)


def interior_point(geom):
    """GEOS-style point-on-surface; ties between components -> first wins
    (matches reference goldens tests/expected/ToPoint.sql.out v4/v6 given
    make_valid's peel order)."""
    gtype, coords = geom
    if is_empty(geom):
        return None
    if gtype == "Point":
        return coords
    if gtype == "Polygon":
        return _poly_interior_point(coords)[0]
    if gtype == "MultiPolygon":
        best, best_w = None, -1.0
        for rings in coords:
            pt, w = _poly_interior_point(rings)
            if w > best_w:
                best, best_w = pt, w
        return best
    if gtype in ("LineString", "MultiLineString"):
        ls = coords if gtype == "LineString" else coords[0]
        r = np.asarray(ls, dtype=float)
        return (float(r[len(r) // 2, 0]), float(r[len(r) // 2, 1]))
    if gtype == "MultiPoint":
        return tuple(float(v) for v in np.asarray(coords, dtype=float)[0])
    return None


# ------------------------------------------------------- make_valid

def _seg_intersection(p1, p2, p3, p4):
    """Proper intersection point of segments p1p2 and p3p4 (interiors),
    or None."""
    d1 = p2 - p1
    d2 = p4 - p3
    denom = d1[0] * d2[1] - d1[1] * d2[0]
    if denom == 0:
        return None
    t = ((p3[0] - p1[0]) * d2[1] - (p3[1] - p1[1]) * d2[0]) / denom
    u = ((p3[0] - p1[0]) * d1[1] - (p3[1] - p1[1]) * d1[0]) / denom
    eps = 1e-12
    if eps < t < 1 - eps and eps < u < 1 - eps:
        return p1 + t * d1
    return None


def _split_self_intersecting_ring(ring):
    """Split a self-intersecting ring into simple sub-rings by inserting
    intersection vertices and peeling closed loops (earlier loops peeled
    first => later components are the later-traversed ones, matching the
    tie-break in interior_point)."""
    pts = [np.asarray(p, dtype=float) for p in np.asarray(ring, dtype=float)]
    # insert intersection points
    changed = True
    while changed:
        changed = False
        n = len(pts)
        for i in range(n - 1):
            for j in range(i + 1, n - 1):
                ip = _seg_intersection(pts[i], pts[i + 1], pts[j], pts[j + 1])
                if ip is not None:
                    pts = pts[: i + 1] + [ip] + pts[i + 1: j + 1] + [ip] + pts[j + 1:]
                    changed = True
                    break
            if changed:
                break
    # peel closed loops with a stack
    out, stack = [], []
    for p in pts:
        key = (round(p[0], 9), round(p[1], 9))
        idx = next(
            (k for k, q in enumerate(stack) if (round(q[0], 9), round(q[1], 9)) == key),
            None,
        )
        if idx is not None and len(stack) - idx >= 3:
            loop = stack[idx:] + [p]
            out.append(np.array(loop))
            stack = stack[: idx + 1]
        else:
            stack.append(p)
    if len(stack) >= 4:
        out.append(np.array(stack))
    return [r for r in out if abs(ring_area(r)) > 0]


def _ring_is_simple(ring):
    """No proper (interior-interior) self-intersection between any two
    segments. All-pairs test vectorized as numpy outer products — the
    same t/u/denominator math as _seg_intersection, so the verdict is
    identical; O(n^2) memory bounds the fast path to rings < 4096 pts
    (larger rings — rare — fall back to the pairwise loop)."""
    pts = np.asarray(ring, dtype=float)
    n = len(pts) - 1
    if n < 2:
        return True
    if n <= 6:
        for i in range(n):
            for j in range(i + 1, n):
                if _seg_intersection(pts[i], pts[i + 1], pts[j], pts[j + 1]) is not None:
                    return False
        return True
    p = pts[:-1]
    d = pts[1:] - p
    eps = 1e-12
    # row blocks bound peak memory to O(block * n) regardless of ring
    # size (an unblocked n x n pair matrix hit 768 MB at n=4000 —
    # per-Python-worker OOM risk on many-core executors, ADVICE r3).
    # block scales DOWN with n so the ~6 live block*n float64 temps
    # (mx, my, denom, t, u, hit) stay <= ~200 MB total even at
    # n=65536 (a fixed block=256 peaked ~800 MB there, ADVICE r4)
    block = max(16, min(256, (32 << 20) // (8 * n)))
    for i0 in range(0, n, block):
        i1 = min(i0 + block, n)
        pb = p[i0:i1]
        db = d[i0:i1]
        mx = p[None, :, 0] - pb[:, None, 0]      # p_j - p_i (x)
        my = p[None, :, 1] - pb[:, None, 1]
        denom = (np.multiply.outer(db[:, 0], d[:, 1])
                 - np.multiply.outer(db[:, 1], d[:, 0]))
        with np.errstate(divide="ignore", invalid="ignore"):
            t = (mx * d[None, :, 1] - my * d[None, :, 0]) / denom
            u = (mx * db[:, None, 1] - my * db[:, None, 0]) / denom
        hit = (denom != 0) & (t > eps) & (t < 1 - eps) & \
              (u > eps) & (u < 1 - eps)
        # pairs i < j only: mask j <= i within this row block
        ji = np.arange(n)[None, :] <= np.arange(i0, i1)[:, None]
        hit &= ~ji
        if bool(hit.any()):
            return False
    return True


def make_valid(geom):
    """Minimal ST_MakeValid: fixes self-intersecting polygon shells by
    node-splitting into a MultiPolygon; drops zero-area rings; empty in,
    empty out. Valid input passes through unchanged."""
    gtype, coords = geom
    if is_empty(geom):
        return geom
    if gtype == "Polygon":
        shell = coords[0]
        if _ring_is_simple(shell):
            return geom
        parts = _split_self_intersecting_ring(shell)
        if len(parts) == 1:
            return ("Polygon", [parts[0]] + list(coords[1:]))
        return ("MultiPolygon", [[p] for p in parts])
    if gtype == "MultiPolygon":
        out = []
        for rings in coords:
            fixed = make_valid(("Polygon", rings))
            if fixed[0] == "Polygon":
                out.append(fixed[1])
            else:
                out.extend(fixed[1])
        return ("MultiPolygon", out)
    return geom


def is_valid(geom) -> bool:
    gtype, coords = geom
    if is_empty(geom):
        return True
    if gtype == "Polygon":
        return all(len(r) >= 4 for r in coords) and _ring_is_simple(coords[0])
    if gtype == "MultiPolygon":
        return all(is_valid(("Polygon", rings)) for rings in coords)
    return True


# ------------------------------------------------------- ToPoint

def to_point(geom):
    """Reference sql/ToPoint.sql:24-47, branch for branch."""
    g = make_valid(geom)
    gtype = g[0]
    if gtype == "Point":
        return g[1]
    if is_empty(g):
        return None
    if gtype in ("Polygon", "MultiPolygon") and n_points(g) <= 5:
        return centroid(g)
    return interior_point(g)


# ------------------------------------------------------- simplify (DP)

def _dp_mask_small(pts: np.ndarray, tol: float) -> np.ndarray:
    """Pure-Python Douglas-Peucker for short parts: numpy's per-call
    overhead on tiny slices costs more than the arithmetic (measured
    ~5-10x), and generalized-table inputs are overwhelmingly short
    rings/lines. Bit-identical to _dp_mask: same float sequence, same
    first-max tie-break as np.argmax."""
    n = len(pts)
    keep = [False] * n
    keep[0] = keep[-1] = True
    xs = pts[:, 0].tolist()
    ys = pts[:, 1].tolist()
    t2 = tol * tol
    stack = [(0, n - 1)]
    while stack:
        a, b = stack.pop()
        if b - a < 2:
            continue
        sx = xs[b] - xs[a]
        sy = ys[b] - ys[a]
        L2 = sx * sx + sy * sy
        best = -1.0
        bi = -1
        if L2 == 0:
            for k in range(a + 1, b):
                rx = xs[k] - xs[a]
                ry = ys[k] - ys[a]
                d2 = rx * rx + ry * ry
                if d2 > best:
                    best = d2
                    bi = k
        else:
            for k in range(a + 1, b):
                c = (xs[k] - xs[a]) * sy - (ys[k] - ys[a]) * sx
                d2 = c * c / L2
                if d2 > best:
                    best = d2
                    bi = k
        if best > t2:
            keep[bi] = True
            stack.append((a, bi))
            stack.append((bi, b))
    return np.array(keep, dtype=bool)


def _dp_mask(pts: np.ndarray, tol: float) -> np.ndarray:
    """Douglas-Peucker keep-mask, iterative stack."""
    if len(pts) <= 192:
        return _dp_mask_small(pts, tol)
    n = len(pts)
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    t2 = tol * tol
    while stack:
        a, b = stack.pop()
        if b - a < 2:
            continue
        seg = pts[b] - pts[a]
        rel = pts[a + 1: b] - pts[a]
        L2 = seg[0] * seg[0] + seg[1] * seg[1]
        if L2 == 0:
            d2 = rel[:, 0] ** 2 + rel[:, 1] ** 2
        else:
            cross = rel[:, 0] * seg[1] - rel[:, 1] * seg[0]
            d2 = cross * cross / L2
        i = int(np.argmax(d2))
        if d2[i] > t2:
            m = a + 1 + i
            keep[m] = True
            stack.append((a, m))
            stack.append((m, b))
    return keep


def simplify(geom, tolerance: float):
    """GEOS DouglasPeuckerSimplifier (ST_Simplify, preserve=false).
    Degenerate rings (<4 pts after simplification) are dropped; a
    polygon losing its shell becomes empty."""
    gtype, coords = geom
    if is_empty(geom) or tolerance <= 0:
        return geom
    if gtype == "Point" or gtype == "MultiPoint":
        return geom
    if gtype == "LineString":
        pts = np.asarray(coords, dtype=float)
        return (gtype, pts[_dp_mask(pts, tolerance)])
    if gtype == "MultiLineString":
        return (gtype, [simplify(("LineString", ls), tolerance)[1] for ls in coords])
    if gtype == "Polygon":
        rings = []
        for k, ring in enumerate(coords):
            pts = np.asarray(ring, dtype=float)
            s = pts[_dp_mask(pts, tolerance)]
            if len(s) >= 4:
                rings.append(s)
            elif k == 0:
                return ("Polygon", [])
        return ("Polygon", rings)
    if gtype == "MultiPolygon":
        polys = []
        for rings in coords:
            p = simplify(("Polygon", rings), tolerance)
            if not is_empty(p):
                polys.append(p[1])
        return ("MultiPolygon", polys)
    return geom


# ------------------------------------------------------- point in polygon

def point_in_ring(x: float, y: float, ring) -> bool:
    r = np.asarray(ring, dtype=float)
    x0, y0 = r[:-1, 0], r[:-1, 1]
    x1, y1 = r[1:, 0], r[1:, 1]
    cond = (y0 > y) != (y1 > y)
    with np.errstate(divide="ignore", invalid="ignore"):
        xin = x0 + (y - y0) / (y1 - y0) * (x1 - x0)
    crossings = int(np.count_nonzero(cond & (x < xin)))
    return crossings % 2 == 1


def point_in_polygon(x: float, y: float, geom) -> bool:
    """Containment test (boundary counts as inside for exactness at
    shared edges; ray-cast parity)."""
    gtype, coords = geom
    if is_empty(geom):
        return False
    if gtype == "Polygon":
        if not point_in_ring(x, y, coords[0]):
            return False
        return not any(point_in_ring(x, y, h) for h in coords[1:])
    if gtype == "MultiPolygon":
        return any(point_in_polygon(x, y, ("Polygon", rings)) for rings in coords)
    return False


def points_in_polygon(xs: np.ndarray, ys: np.ndarray, geom) -> np.ndarray:
    """Vectorized PIP over arrays of points (numpy, one pass per edge set)."""
    gtype, coords = geom
    out = np.zeros(len(xs), dtype=bool)
    if is_empty(geom):
        return out
    polys = [coords] if gtype == "Polygon" else coords

    def ring_mask(ring):
        r = np.asarray(ring, dtype=float)
        x0, y0 = r[:-1, 0][:, None], r[:-1, 1][:, None]
        x1, y1 = r[1:, 0][:, None], r[1:, 1][:, None]
        cond = (y0 > ys[None, :]) != (y1 > ys[None, :])
        with np.errstate(divide="ignore", invalid="ignore"):
            xin = x0 + (ys[None, :] - y0) / (y1 - y0) * (x1 - x0)
        cross = cond & (xs[None, :] < xin)
        return cross.sum(axis=0) % 2 == 1

    for rings in polys:
        inside = ring_mask(rings[0])
        for hole in rings[1:]:
            inside &= ~ring_mask(hole)
        out |= inside
    return out
