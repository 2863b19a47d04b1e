"""MVT tile encode — one kernel for every layer kind and layer count.

Reproduces the reference tile query spine (openmaptiles/sqltomvt.py):

  per layer:  ST_AsMVTGeom(geom, TileBBox(z,x,y), extent, buffer, true)
              + ST_AsMVT(rows, layer_id, extent, 'mvtgeometry')
              (sqltomvt.py:160-224)
  per tile:   STRING_AGG(mvtl, '' ORDER BY _layer_index)
              [+ GZIP(...)] + md5(mvt) AS key
              (sqltomvt.py:104-140)

Each layer is first normalized to one row shape (norm_schema: packed
zxy key, layer index, sort key and pre-framed wire pieces) by ONE row
builder (_row_builder). Layer kinds differ only in the candidate source
that feeds it: assigned or fused (in-kernel tile fan-out) points, whose
ST_AsMVTGeom is Catalyst column math (with_point_tile_coords) or its
numpy mirror, and assigned or fused (supercover) WKB layers, clipped by
the vectorized vecmvt pipeline. Then ONE (zxy) exchange feeds ONE
grouped pass (assemble_normalized) whose per-tile kernel frames each
layer message (frame_layer), concatenates the layers in index order,
gzips and md5s. encode_and_assemble_single is the same pass for one
layer; for a JVM-assigned point layer the row builder runs as that
pass's batch hook, after the exchange, so the layer crosses into
Python once.

Determinism: features are sorted by feature key within each (tile,
layer) run before dictionary encoding, so tile bytes and md5 tile_ids
are stable across shuffles (ST_AsMVT relies on query ORDER BY; an
unordered Spark shuffle would otherwise produce unstable bytes).
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparktiles.functions import mvtcodec as C
from sparktiles.functions.tilecover import cover_cells_zoom
from sparktiles.functions.tilemath import (
    HALF_WORLD,
    TILEBBOX_MAX,
    WORLD_MERC_WIDTH,
)
from sparktiles.functions.vecmvt import (
    _ragged_arange,
    decode_wkb_batch,
    fid_fields_vec,
    wkb_row_fields_vec,
)

DEFAULT_EXTENT = 4096
_MASK29 = (1 << 29) - 1


def pack_zxy_expr(z="z", x="x", y="y") -> F.Column:
    """(z,x,y) packed into one BIGINT shuffle/sort key: (z<<58)^(x<<29)^y
    (non-overlapping for z<=29, x,y < 2^29 — i.e. any web-mercator
    zoom). One 8-byte key column instead of three (24 bytes of UnsafeRow
    fixed section) ahead of the pyramid's only wide shuffle."""
    return F.expr(
        f"shiftleft(shiftleft(cast({z} as bigint), 29) ^ {x}, 29) ^ {y}"
    )


def unpack_zxy(key: int) -> tuple[int, int, int]:
    return key >> 58, (key >> 29) & _MASK29, key & _MASK29


def _value_blobs_batch(conv: np.ndarray) -> np.ndarray:
    """Per-row MVT Value wire blobs for one converted attribute column
    (output of _attr_convert_batch): object ndarray of bytes|None.
    Memoized per batch keyed by (type, value) (str keys skip the tuple;
    a str never equals a tuple), so repeated values encode once per
    batch and candidate fan-outs share blob objects."""
    out = np.empty(len(conv), dtype=object)
    memo: dict = {}
    for i, v in enumerate(conv.tolist()):
        if v is None:
            continue
        k = v if type(v) is str else (v.__class__, v)
        b = memo.get(k)
        if b is None:
            b = memo[k] = C.encode_value(v)
        out[i] = b
    return out


# Common row shape every layer kind normalizes to ahead of the ONE
# multi-layer (zxy) shuffle: pre-framed wire pieces + pre-encoded attr
# Value blobs in FLAT binary columns _v0.._v{n-1} (flat beats an Arrow
# list<binary> column by avoiding a per-row Python list/ndarray object
# on both sides of the exchange). _li = layer index (concat order),
# _sk = sort key (feature id or 0) for deterministic bytes. Width n =
# max attr count across the unioned layers; narrower layers pad None.
NORM_BASE_SCHEMA = ("zxy long, _li int, _sk long, _fidf binary, "
                    "_gt tinyint, _geomf binary")


def norm_schema(n_vals: int) -> str:
    return NORM_BASE_SCHEMA + "".join(
        f", _v{a} binary" for a in range(n_vals))


def _vals_columns(out: dict, col_blobs: list, idx, n: int,
                  n_vals: int) -> None:
    """Fill _v0.._v{n_vals-1} into `out` for n candidates: column a =
    that attr's blobs gathered at batch indices idx (a fan-out shares
    blob objects), or whole when idx is None; columns beyond the
    layer's width are None-padded."""
    for a in range(n_vals):
        if a >= len(col_blobs):
            out[f"_v{a}"] = [None] * n
        else:
            out[f"_v{a}"] = col_blobs[a] if idx is None else col_blobs[a][idx]


def _cap_tiebreak_col(spec) -> str | None:
    """Raw column a KEYLESS capped layer carries as `_ord`: its _sk is
    constant 0, so the cap window orders by the last projected column
    instead (projection order: geometry, attrs, importance) — a
    deterministic selection. _point_tile_frame's window orders keyless
    layers by the same column."""
    if not spec.max_features_per_tile or spec.key_field:
        return None
    cols = ["py" if spec.geometry_kind == "point" else "geom"]
    cols += list(spec.attr_fields)
    if spec.importance_col and spec.importance_col not in cols:
        cols.append(spec.importance_col)
    return cols[-1]


def _norm_out_schema(features: DataFrame, nv: int, imp_col: str | None,
                     ord_col: str | None) -> str:
    """norm_schema plus the cap window's auxiliary `_imp` / `_ord`."""
    out = norm_schema(nv) + (", _imp double" if imp_col else "")
    if ord_col:
        out += ", _ord " + features.schema[ord_col].dataType.simpleString()
    return out


# ------------------------------------------------------------- candidate sources
#
# A source turns one Arrow batch (dict of column arrays) into candidate
# chunks (idx, zxy, geo): the base-row indices into the batch (None:
# row i is candidate i), the packed tile keys, and candidate-aligned
# geometry arrays: tile-local ix/iy for points, which _row_builder
# frames, or the framed _gt / _geomf pieces for WKB, whose clip
# (_wkb_clip) encodes them. The source is all that differs between
# layer kinds; _row_builder does the rest.

# per-chunk candidate-row cap for the fused WKB source: bounds one
# Arrow batch's in-flight fan-out (candidate index arrays + encoded
# streams) regardless of zoom depth — a z0-z14 span over long
# geometries would otherwise materialize the whole 15-zoom fan-out in
# one worker before yielding (ADVICE r4)
FUSED_CANDIDATE_CAP = 262_144


def _assigned_points(cols: dict):
    """Point source over with_point_tile_coords rows: every row is a
    candidate, tile-local, clipped and keyed in Catalyst."""
    yield None, cols["zxy"], (cols["ix"], cols["iy"])


def _fused_points(spec, minz: int, maxz: int):
    """Point source over RAW features: the per-zoom tile fan-out
    happens inside the kernel.

    Scale effect: the exploded path materializes ~(maxz-minz+1) rows
    per feature JVM-side and ships that whole fan-out across Arrow into
    Python just to varint-pack it (the measured ml map stage: 988k
    features -> 11.9M Arrow rows). Here each base feature crosses Arrow
    exactly once, so map-side memory traffic drops ~10x on the layer
    kind that dominates real tilesets' row counts. Candidates are
    byte-identical to assign_point_tiles_multi -> with_point_tile_coords
    (pytest row-level parity): every float op below mirrors the
    Catalyst expression sequence exactly (same IEEE double op order,
    floor, round-half-even rint; reference tile-bbox semantics per
    openmaptiles-tools sqltomvt.py:197-242)."""
    extent = spec.extent
    mvt_buffer = int(extent * spec.buffer_px / 256)
    lo, hi = -float(mvt_buffer), float(extent + mvt_buffer)
    bf = float(spec.buffer_px) / 256.0

    def candidates(cols: dict):
        px, py = cols["px"], cols["py"]
        base = np.arange(len(px), dtype=np.int64)
        parts = []
        for z in range(minz, maxz + 1):
            n2 = 2.0 ** z
            # assign_point_tiles: own tile + buffered edge neighbors
            fx = (px + HALF_WORLD) / WORLD_MERC_WIDTH * n2
            fy = (HALF_WORLD - py) / WORLD_MERC_WIDTH * n2
            tx = np.floor(fx).astype(np.int64)
            ty = np.floor(fy).astype(np.int64)
            top = np.int64(n2 - 1.0)
            west = ((fx - tx) < bf) & (tx > 0)
            east = ((tx + 1 - fx) < bf) & (tx < top)
            north = ((fy - ty) < bf) & (ty > 0)
            south = ((ty + 1 - fy) < bf) & (ty < top)
            cids, cxs, cys = [base], [tx], [ty]
            for cond, dx, dy in ((west, -1, 0), (east, 1, 0),
                                 (north, 0, -1), (south, 0, 1),
                                 (west & north, -1, -1),
                                 (east & north, 1, -1),
                                 (west & south, -1, 1),
                                 (east & south, 1, 1)):
                k = np.flatnonzero(cond)
                if len(k):
                    cids.append(k)
                    cxs.append(tx[k] + dx)
                    cys.append(ty[k] + dy)
            idx = np.concatenate(cids)
            cx = np.concatenate(cxs)
            cy = np.concatenate(cys)
            # with_point_tile_coords: tile-local coords + clip
            res = (TILEBBOX_MAX * 2.0) / n2
            xmin = -TILEBBOX_MAX + cx.astype(np.float64) * res
            xmax = xmin + res
            ymax = TILEBBOX_MAX - cy.astype(np.float64) * res
            scale = float(extent) / (xmax - xmin)
            ix = np.rint((px[idx] - xmin) * scale)
            iy = np.rint((ymax - py[idx]) * scale)
            keep = (ix >= lo) & (ix <= hi) & (iy >= lo) & (iy <= hi)
            if not keep.any():
                continue
            k = np.flatnonzero(keep)
            zxy = ((np.int64(z) << 58) ^ (cx[k] << 29)) ^ cy[k]
            parts.append((idx[k], zxy, ix[k].astype(np.int32),
                          iy[k].astype(np.int32)))
        if parts:
            idx, zxy, ix, iy = (np.concatenate(p) for p in zip(*parts))
            yield idx, zxy, (ix, iy)

    return candidates


def _wkb_clip(blobs, idx, z, x, y, extent: int, mvt_buffer: int):
    """Map-side ST_AsMVTGeom + wire encode of WKB candidates (row i =
    blobs[idx[i]] in tile z/x/y) through the vectorized pipeline
    (functions/vecmvt.py): WKB decode -> tile transform -> clip
    (Liang-Barsky / Sutherland-Hodgman) -> snap -> MVT command-stream
    varints. Yields the survivors as one chunk: rows whose geometry
    clips away never shuffle at all, and the pyramid shuffle moves
    small tile-local varint streams instead of the full-resolution WKB
    once per overlapped tile."""
    gf, gt = wkb_row_fields_vec(blobs[idx], z, x, y, extent, mvt_buffer)
    keep = np.flatnonzero([f is not None for f in gf])
    if len(keep):
        yield (idx[keep], (z[keep] << 58) ^ (x[keep] << 29) ^ y[keep],
               (gt[keep], np.array(gf, dtype=object)[keep]))


def _assigned_wkb(spec):
    """WKB source over tile-assigned rows (z, x, y, geom): the fused
    source's clip run over the frame's own tiles."""
    extent = spec.extent
    mvt_buffer = int(extent * spec.buffer_px / 256)

    def candidates(cols: dict):
        z, x, y = (cols[c].astype(np.int64) for c in ("z", "x", "y"))
        yield from _wkb_clip(cols["geom"], np.arange(len(z)), z, x, y,
                             extent, mvt_buffer)

    return candidates


def _fused_wkb(spec, minz: int, maxz: int):
    """WKB source over RAW features: supercover tile cover
    (functions/tilecover) + clip in one stage — candidate rows never
    cross an Arrow boundary carrying raw WKB, and each feature's WKB is
    decoded once per batch for the cover plus once per (feature, chunk)
    in the clip (adjacent-dup replay).

    Candidates are clipped and yielded in chunks of at most
    FUSED_CANDIDATE_CAP rows (read here, so the cap in force when the
    plan is built is the one its tasks use). Chunk boundaries only
    affect batching, never bytes, so deep pyramids (z0-z14) cannot
    balloon one worker's memory with the whole zoom-span fan-out."""
    cap = FUSED_CANDIDATE_CAP
    extent = spec.extent
    mvt_buffer = int(extent * spec.buffer_px / 256)
    bf = float(spec.buffer_px) / 256.0

    def candidates(cols: dict):
        blobs = cols["geom"]
        pt, ln, pg = decode_wkb_batch(blobs)
        pend, pend_n = [], 0
        for z in range(minz, maxz + 1):
            r, cx, cy = cover_cells_zoom(pt, ln, pg, z, bf)
            for s in range(0, len(r), cap):
                rs = r[s:s + cap]
                pend.append((rs, np.full(len(rs), z, dtype=np.int64),
                             cx[s:s + cap], cy[s:s + cap]))
                pend_n += len(rs)
                if pend_n >= cap:
                    yield from _wkb_clip(
                        blobs, *(np.concatenate(p) for p in zip(*pend)),
                        extent, mvt_buffer)
                    pend, pend_n = [], 0
        if pend:
            yield from _wkb_clip(
                blobs, *(np.concatenate(p) for p in zip(*pend)),
                extent, mvt_buffer)

    return candidates


# ------------------------------------------------------------- row builder

def _row_builder(spec, candidates, n_vals: int, partial_cap: bool = False,
                 imp_col: str | None = None, ord_col: str | None = None):
    """The one normalized-row builder: batch column arrays -> norm_schema
    row chunks, one per chunk of the layer's candidate source.

    Per batch, each attribute encodes to its Value wire blob once per
    BASE row (_value_blobs_batch); candidates gather the shared blob
    objects. Per chunk: the key pieces (_sk/_fidf), the geometry pieces
    (framed here for points), the _v columns and, when the cap
    window still has to run, `_imp` / `_ord` taken from imp_col /
    ord_col.

    `partial_cap` (fused sources under a key-ordered cap): each chunk
    first keeps only its cap smallest keys per tile (_partial_cap_sel)
    — an exact superset of the global selection (any row of the global
    per-tile top-k ranks <= k within its own chunk), which the
    reduce-side layer_caps compaction then finalizes. Bounds what a hot
    tile ships: cap x chunks, not its full fan-out (the z0 group =
    every feature, every batch). Candidates are clip survivors, so the
    cap counts survivors — the window's semantics. Numeric keys only:
    numpy's order is Spark's there; string collation could differ."""
    key_field = spec.key_field
    attr_items = list(spec.attr_fields.items())
    point = spec.geometry_kind == "point"
    kcap = _kernel_cap(spec) if partial_cap else None

    def build(cols: dict):
        keys = cols[key_field] if key_field else None
        col_blobs = [_value_blobs_batch(_attr_convert_batch(cols[k], t))
                     for k, t in attr_items]
        for idx, zxy, geo in candidates(cols):
            if kcap is not None and keys.dtype.kind in "iu":
                sel = _partial_cap_sel(zxy, keys[idx], kcap)
                if len(sel) < len(zxy):
                    idx, zxy = idx[sel], zxy[sel]
                    geo = [g[sel] for g in geo]
            n = len(zxy)

            def at(col):
                return col if idx is None else col[idx]

            if point:
                gt = np.full(n, C.GEOM_POINT, dtype=np.int8)
                geomf = C.point_row_fields_vec(*geo)
            else:
                gt, geomf = geo
            sk = at(keys) if key_field else np.zeros(n, dtype=np.int64)
            out = {"zxy": zxy,
                   "_li": np.full(n, spec.index, dtype=np.int32),
                   "_sk": sk,
                   "_fidf": fid_fields_vec(sk) if key_field else [None] * n,
                   "_gt": gt,
                   "_geomf": geomf}
            _vals_columns(out, col_blobs, idx, n, n_vals)
            if imp_col:
                out["_imp"] = at(cols[imp_col])
            if ord_col:
                out["_ord"] = at(cols[ord_col])
            yield out

    return build


def _normalized_frame(features: DataFrame, spec, candidates, n_vals: int,
                      windowed: bool = False,
                      partial_cap: bool = False) -> DataFrame:
    """The one map-side normalize stage: a mapInPandas running
    _row_builder over every Arrow batch. Unless the frame is already
    `windowed` (an assigned point frame: _point_tile_frame ran the cap
    window in Catalyst), the rows carry `_imp` / `_ord` for the cap
    window that _normalized_cap applies after this stage."""
    imp_col = ord_col = None
    if not windowed and spec.max_features_per_tile:
        imp_col, ord_col = spec.importance_col, _cap_tiebreak_col(spec)
    build = _row_builder(spec, candidates, n_vals, partial_cap,
                         imp_col, ord_col)

    def run(batches):
        for pdf in batches:
            if len(pdf):
                for out in build({c: pdf[c].to_numpy() for c in pdf.columns}):
                    yield pd.DataFrame(out)

    return features.mapInPandas(
        run, _norm_out_schema(features, n_vals, imp_col, ord_col))


def with_point_tile_coords(features: DataFrame, extent: int,
                           mvt_buffer: int) -> DataFrame:
    """Map-side ST_AsMVTGeom for points, as Catalyst expressions: tile-
    local integer coords ix/iy (same float order + round-half-even as
    the scalar reference as_mvt_geom_points in tests/mvt_oracle.py, so
    output bytes are identical), the clip filter,
    and the packed zxy key — BEFORE the (z,x,y) shuffle.

    Scale effect: the pyramid shuffle then carries (zxy, ix, iy) small
    well-compressing ints instead of (z,x,y,px,py) with two high-entropy
    doubles, clipped-away rows never shuffle at all, and the Python
    kernel is left with pure varint packing (no per-group transform).
    """
    z = F.col("z").cast("double")
    res = F.lit(TILEBBOX_MAX * 2.0) / F.pow(F.lit(2.0), z)
    xmin = F.lit(-TILEBBOX_MAX) + F.col("x").cast("double") * res
    xmax = xmin + res
    ymax = F.lit(TILEBBOX_MAX) - F.col("y").cast("double") * res
    # scale = extent / (xmax - xmin) evaluated in the exact sequence of
    # tile_bbox() + as_mvt_geom_points(): fl(fl(xmin+res) - xmin)
    scale = F.lit(float(extent)) / (xmax - xmin)
    ix = F.rint((F.col("px") - xmin) * scale)
    iy = F.rint((ymax - F.col("py")) * scale)
    lo, hi = F.lit(-float(mvt_buffer)), F.lit(float(extent + mvt_buffer))
    # int32 coords: extent+buffer < 2^31 always; halves these columns'
    # Arrow transfer into the encode kernel
    return (
        features.withColumn("ix", ix).withColumn("iy", iy)
        .where((F.col("ix") >= lo) & (F.col("ix") <= hi)
               & (F.col("iy") >= lo) & (F.col("iy") <= hi))
        .withColumn("ix", F.col("ix").cast("int"))
        .withColumn("iy", F.col("iy").cast("int"))
        .withColumn("zxy", pack_zxy_expr())
        .drop("px", "py", "z", "x", "y")
    )


def _point_tile_frame(features: DataFrame, spec) -> DataFrame:
    """Shared prefix for an ASSIGNED point frame (z, x, y, px, py, ...):
    project what the encode reads, ST_AsMVTGeom in Catalyst
    (with_point_tile_coords), then the importance/keyless density-cap
    window. Key-ordered caps skip the window: the grouped pass compacts
    each (tile, layer) run to the cap (grouped_map_sorted layer_caps).
    Only importance/keyless selections, whose
    order differs from the encode sort, need the window (one window with
    WindowGroupLimit pruning, see _capped_window). No Python stage."""
    mvt_buffer = int(spec.extent * spec.buffer_px / 256)
    feats = with_point_tile_coords(_project(features, spec, assigned=True),
                                   spec.extent, mvt_buffer)
    cap = spec.max_features_per_tile
    if cap and _kernel_cap(spec) is None:
        order = []
        if spec.importance_col:
            order.append(F.desc(spec.importance_col))
        order.append(F.col(spec.key_field or _cap_tiebreak_col(spec)))
        feats = _capped_window(feats, cap, order)
    return feats


def _project(features: DataFrame, spec, assigned: bool) -> DataFrame:
    """Only the columns the encode reads, so callers cannot shuffle
    e.g. `html`: z/x/y (assigned frames), geometry, attrs, key,
    importance."""
    geom = ["px", "py"] if spec.geometry_kind == "point" else ["geom"]
    cols = (["z", "x", "y"] if assigned else []) + geom + list(spec.attr_fields)
    for c in (spec.key_field, spec.importance_col):
        if c and c not in cols:
            cols.append(c)
    return features.select(*dict.fromkeys(cols))


def normalize_layer_df(features: DataFrame, spec,
                       zoom_range: tuple[int, int] | None = None,
                       n_vals: int | None = None) -> DataFrame:
    """One layer -> normalized rows (norm_schema), entirely MAP-SIDE
    (the density cap is the one exception — it needs a per-tile
    window). This is the per-layer half of the single-shuffle spine:
    the caller unions every layer's normalized frame and runs ONE (zxy)
    grouped pass (assemble_normalized) doing per-layer dictionary
    encode + ordered concat + gzip + md5.

    features: assigned rows (z,x,y present), or the RAW feature frame
    with zoom_range (fused assignment). Every layer kind runs the same
    stage (_normalized_frame -> _row_builder); only the candidate
    source differs:
      point, assigned  _assigned_points (Catalyst with_point_tile_coords)
      point, fused     _fused_points (in-kernel tile fan-out)
      WKB, assigned    _assigned_wkb (clip over the frame's own tiles)
      WKB, fused       _fused_wkb (supercover cover + clip, chunked)
    """
    nv = n_vals if n_vals is not None else len(spec.attr_fields)
    point = spec.geometry_kind == "point"
    if zoom_range is None and point:
        return _normalized_frame(_point_tile_frame(features, spec), spec,
                                 _assigned_points, nv, windowed=True)
    if zoom_range is None:
        source = _assigned_wkb(spec)
    elif point:
        source = _fused_points(spec, *zoom_range)
    else:
        source = _fused_wkb(spec, *zoom_range)
    norm = _normalized_frame(
        _project(features, spec, assigned=zoom_range is None), spec, source,
        nv, partial_cap=zoom_range is not None)
    return _normalized_cap(norm, spec)


def _capped_window(df: DataFrame, cap: int, order) -> DataFrame:
    """row_number()<=cap per zxy for selection orders the encode sort
    can't reproduce (importance desc / keyless tie-break).

    Hot-tile skew is already bounded by the physical plan, not by us:
    Spark 4 rewrites rank<=K filters into `WindowGroupLimit ...
    Partial` BEFORE the exchange (verified in the formatted plan,
    tests/test_multilayer_fused.py) — each map task locally keeps at
    most `cap` rows per tile, so the window task for the z0 tile of a
    10^10-feature corpus receives <= cap x upstream-partitions rows,
    never the raw row set. The window's zxy hashpartitioning is then
    REUSED by the grouped encode when no explicit partition count is
    forced: one Exchange for cap + encode combined. (A hand-rolled
    salted two-level window was measured strictly worse: it doubles
    the exchanges while WindowGroupLimit already prunes map-side.)"""
    from pyspark.sql.window import Window

    w = Window.partitionBy("zxy").orderBy(*order)
    return (df.withColumn("_dr", F.row_number().over(w))
            .where(F.col("_dr") <= cap).drop("_dr"))


def _normalized_cap(norm: DataFrame, spec) -> DataFrame:
    """Density cap over already-normalized rows (the fused paths' cap).

    Key-ordered caps (keyed, no importance) are NOT windowed here at
    all: the spine's grouped pass applies them via per-(tile, layer)
    batch compaction (assemble_normalized / grouped_map_sorted
    layer_caps) — same selection, zero extra
    exchanges, hot-group memory bounded. Importance and keyless caps
    need a selection order different from the encode sort, so they
    keep the pre-exchange window: per-zxy row_number ordered by
    importance desc then the tie-break, relying on Spark 4's
    WindowGroupLimit map-side pruning (see _capped_window — the
    salted two-level variant was tried and rejected there)."""
    cap = spec.max_features_per_tile
    if cap and _kernel_cap(spec) is None:
        order = []
        if spec.importance_col:
            order.append(F.desc("_imp"))
        # keyed layers: _sk IS the key column; keyless: _sk is constant
        # 0, so order by the carried raw tie-break column instead
        keyed = "_ord" not in norm.columns
        order.append(F.col("_sk" if keyed else "_ord"))
        norm = _capped_window(norm, cap, order)
    for aux in ("_imp", "_ord"):
        if aux in norm.columns:
            norm = norm.drop(aux)
    return norm


def frame_layer(frame: tuple[bytes, bytes, bytes], fidf, gts, geomf,
                vcols: list, s: int, e: int) -> bytes:
    """One MVT layer message from rows [s, e) of per-row wire pieces —
    the only place layer messages are framed. frame = the layer's
    constant (header, keys trailer, extent field) (C.layer_frame_blobs);
    fidf/geomf = pre-framed feature id / geometry fields (fid None ->
    no id), gts = geometry type codes, vcols = one column of encoded
    Value blobs (None = null) per declared key, in key order. Values are
    dictionary-encoded first-seen by encoded bytes, so the output is
    byte-identical to the reference codec (tests/mvt_oracle.py
    encode_layer_columnar) over the raw values
    (fuzz-asserted in tests/test_mvt.py)."""
    header, keys_blob, extent_blob = frame
    vc = C.varint_cached
    key_bytes = [vc(ki) for ki in range(len(vcols))]
    values: list[bytes] = []
    value_idx: dict[bytes, int] = {}
    parts: list[bytes] = []
    for r in range(s, e):
        tags = b""
        for kb, col in zip(key_bytes, vcols):
            ev = col[r]
            if ev is None:
                continue
            vi = value_idx.get(ev)
            if vi is None:
                vi = value_idx[ev] = len(values)
                values.append(ev)
            tags += kb + vc(vi)
        if tags:
            tags = b"\x12" + vc(len(tags)) + tags
        ff = fidf[r]
        if ff is None:
            ff = b""
        gf = geomf[r]
        tfield = C._GTYPE_FIELD[int(gts[r])]
        body_len = len(ff) + len(tags) + 2 + len(gf)
        parts.append(b"\x12" + vc(body_len) + ff + tags + tfield + gf)
    body = header
    body += b"".join(parts)
    body += keys_blob
    body += b"".join(b"\x22" + vc(len(v)) + v for v in values)
    body += extent_blob
    return C._len_field(3, body)


def _assemble(df: DataFrame, specs, gzip_level: int | None,
              sort_extra: list[str], prep=None) -> DataFrame:
    """The grouped tile pass: ONE repartition on the packed zxy key +
    within-partition sort (zxy, *sort_extra), then per tile: frame each
    layer run (rows sorted by _li) with frame_layer, concatenate the
    messages in _li order, gzip, md5. `prep` (a batch normalizer) fills
    the normalized columns after the exchange when `df` carries raw
    point rows instead."""
    frame_by_idx = {
        spec.index: (C.layer_frame_blobs(spec.layer_id,
                                         list(spec.attr_fields), spec.extent),
                     [f"_v{a}" for a in range(len(spec.attr_fields))])
        for spec in specs}

    def tile(arrs: dict, s: int, e: int) -> list[tuple]:
        z, tx, ty = unpack_zxy(int(arrs["zxy"][s]))
        li = arrs["_li"]
        pieces = []
        i = s
        while i < e:
            lcur = int(li[i])
            j = i
            while j < e and li[j] == lcur:
                j += 1
            frame, vnames = frame_by_idx[lcur]
            pieces.append(frame_layer(
                frame, arrs["_fidf"], arrs["_gt"], arrs["_geomf"],
                [arrs[c] for c in vnames], i, j))
            i = j
        blob = b"".join(pieces)
        if gzip_level is not None:
            blob = C.gzip_blob(blob, gzip_level)
        return [(z, tx, ty, blob, hashlib.md5(blob).hexdigest())]

    # key-ordered density caps run entirely in this pass: grouped_map_
    # sorted compacts every (tile, layer) run to its cap before the
    # batch hook and the kernel, which bounds Arrow + held-group memory
    # for hot tiles (the z0 group = the whole corpus). No cap window,
    # no extra exchange — the build keeps ONE Exchange (plan-asserted)
    # capped or not.
    layer_caps = {spec.index: _kernel_cap(spec) for spec in specs
                  if _kernel_cap(spec) is not None}
    return grouped_map_sorted(
        df, ["zxy"], tile,
        "z int, x long, y long, mvt binary, tile_id string",
        sort_extra=sort_extra, prep=prep, layer_caps=layer_caps or None,
    )


def assemble_normalized(norm: DataFrame, specs,
                        gzip_level: int | None = None) -> DataFrame:
    """The single-shuffle tile builder: input is the union of
    normalize_layer_df frames (norm_schema width-aligned); ONE
    repartition on the packed zxy key + within-partition sort (zxy,
    _li, _sk), then one grouped pass per tile that dictionary-encodes
    each layer's values, frames its features, concatenates layer
    messages in _li order, gzips, and md5s. Output: z,x,y,mvt,tile_id.
    Value dictionaries dedupe by ENCODED BYTES with a per-batch
    (type, value) memo (_value_blobs_batch)."""
    return _assemble(norm, specs, gzip_level, ["_li", "_sk"])


def encode_and_assemble_single(features: DataFrame, spec,
                               gzip_level: int | None = None,
                               zoom_range: tuple[int, int] | None = None,
                               ) -> DataFrame:
    """One layer -> z,x,y,mvt,tile_id of every non-empty tile: ST_AsMVT
    (A1) and the tile assembly STRING_AGG+gzip+md5 (A2/A3) in ONE (zxy)
    grouped pass — assemble_normalized's pass over one layer.

    An assigned point frame (z, x, y present) has no Python stage ahead
    of the exchange: the tile transform, clip and any importance/keyless
    cap window run in Catalyst (_point_tile_frame), and the point
    normalizer runs as the grouped pass's batch hook after the exchange.
    WKB frames, and raw frames with zoom_range (fused assignment), go
    through normalize_layer_df's map-side stage, as in a multi-layer
    build."""
    if spec.geometry_kind == "point" and zoom_range is None:
        # _li for the pass's per-layer cap compaction, which runs
        # before the batch hook
        feats = _point_tile_frame(features, spec).withColumn(
            "_li", F.lit(spec.index))
        build = _row_builder(spec, _assigned_points, len(spec.attr_fields))
        return _assemble(feats, [spec], gzip_level,
                         [spec.key_field] if spec.key_field else [],
                         prep=lambda arrs: next(build(arrs)))
    return assemble_normalized(
        normalize_layer_df(features, spec, zoom_range), [spec], gzip_level)


# ------------------------------------------------------------- grouped map

def grouped_map_sorted(
    df: DataFrame,
    keys: list[str],
    fn,
    out_schema: str,
    sort_extra: list[str] | None = None,
    prep=None,
    layer_caps: dict[int, int] | None = None,
    partitioned: bool = False,
    on_end=None,
):
    """applyInPandas-equivalent with per-BATCH (not per-group) Python
    overhead: repartition on the keys, sort within partitions, then
    mapInPandas where each Arrow batch is converted to numpy column
    arrays ONCE and split into contiguous key groups by boundary
    detection (`fn(cols: dict[str, ndarray], start, end) -> list[tuple]`).
    Groups spanning batch boundaries are carried over to the next batch.

    For tile workloads (millions of tiny (z,x,y) groups) this cuts the
    per-group cost from pandas-groupby-iteration (~150us) to a numpy
    slice (~10us) — the MVT encode was 60%% of the pyramid wall clock
    before this.

    Keys must be integer columns packable into one int64 for boundary
    detection — either a single pre-packed key (`zxy`) or (z, x, y).
    `prep`, if given, runs once per merged Arrow batch and returns extra
    batch-aligned arrays merged into `arrs` (group-independent per-row
    precompute; held-back rows are re-prepped with the next batch).

    `layer_caps`: {_li value: cap} — the kernel-level density cap's
    compaction step. Rows are sorted (key, _li, key order), so each
    (group, layer) run is contiguous and its first `cap` rows ARE the
    key-ordered cap's selection; runs of layers absent from the dict
    are kept whole. Complete groups compact per-run BEFORE prep; the
    held partial group is re-compacted after every appended batch, so
    a capped hot group (one z0 tile = the whole corpus) spanning B
    batches holds O(sum(caps)) rows and pays Arrow + prep only for
    those, not for the millions of rows the kernel would slice away.

    `partitioned`: `df` is already hash-partitioned on the keys and
    sorted within partitions (e.g. a checkpointed frame several kernels
    share) — skip the repartition + sort.

    `on_end`: called once per partition after its last group; the rows
    it returns are emitted too (per-task totals, accumulator flushes).
    """
    import pandas as pd

    # AQE sizes this exchange
    part = df if partitioned else df.repartition(
        *[F.col(k) for k in keys]
    ).sortWithinPartitions(*(keys + (sort_extra or [])))

    out_cols = [s.strip().split()[0].strip("`") for s in out_schema.split(",")]
    in_cols = [f.name for f in df.schema]

    def packed_key(arrs):
        k = arrs[keys[0]].astype(np.int64)
        for extra in keys[1:]:
            k = (k << 29) ^ arrs[extra].astype(np.int64)
        return k  # single pre-packed key column passes through unchanged

    if layer_caps:
        # O(1) per-run cap lookup: _li values index a lut whose
        # sentinel tail (uncapped layers) is "infinite"
        _max_li = max(layer_caps)
        _cap_lut = np.full(_max_li + 2, np.iinfo(np.int64).max,
                           dtype=np.int64)
        for _lv, _lc in layer_caps.items():
            _cap_lut[_lv] = _lc

        def _compact_single_group(arrs):
            """Per-layer cap inside ONE group (the held partial group:
            key constant, rows sorted by (_li, _sk))."""
            li = arrs["_li"]
            n = len(li)
            chg = np.flatnonzero(li[1:] != li[:-1]) + 1
            rs = np.concatenate([[0], chg])
            re_ = np.concatenate([chg, [n]])
            caps = _cap_lut[np.minimum(li[rs].astype(np.int64),
                                       _max_li + 1)]
            lens = np.minimum(re_ - rs, caps)
            if int(lens.sum()) == n:
                return arrs
            sel = np.repeat(rs, lens) + _ragged_arange(lens)
            return {c: arrs[c][sel] for c in in_cols}

        def _cap_layer_runs(arrs, k, starts, ends, cols):
            """Compact every (group, layer) run inside the complete-
            groups region to its layer cap; recompute GROUP bounds."""
            s0, e0 = int(starts[0]), int(ends[-1])
            li = arrs["_li"]
            kk, ll = k[s0:e0], li[s0:e0]
            chg = np.flatnonzero((kk[1:] != kk[:-1])
                                 | (ll[1:] != ll[:-1])) + 1
            rs = np.concatenate([[0], chg]) + s0
            re_ = np.concatenate([chg, [e0 - s0]]) + s0
            caps = _cap_lut[np.minimum(li[rs].astype(np.int64),
                                       _max_li + 1)]
            lens = np.minimum(re_ - rs, caps)
            if int(lens.sum()) == e0 - s0 and s0 == 0:
                return arrs, starts, ends
            sel = np.repeat(rs, lens) + _ragged_arange(lens)
            arrs = {c: arrs[c][sel] for c in cols}
            nk = k[sel]
            cuts = np.flatnonzero(nk[1:] != nk[:-1]) + 1
            new_starts = np.concatenate([[0], cuts])
            new_ends = np.concatenate([cuts, [len(nk)]])
            return arrs, new_starts, new_ends

    def run(batches):
        # trailing-group carry: a CHUNK LIST (one slice per batch the
        # group spans), concatenated exactly once when the group
        # completes — a hot group spanning B batches (z0 = the whole
        # corpus in one group) costs O(n) copies, not the O(n*B) of
        # re-concatenating an accumulator every batch
        held: list[dict] = []
        held_n = 0
        held_key = 0

        def flush_held():
            if len(held) == 1:
                arrs = held[0]
            else:
                arrs = {c: np.concatenate([ch[c] for ch in held])
                        for c in in_cols}
            if prep is not None:
                arrs = {**arrs, **prep(arrs)}
            return fn(arrs, 0, len(arrs[in_cols[0]]))

        for pdf in batches:
            if not len(pdf):
                continue
            arrs = {c: pdf[c].to_numpy() for c in in_cols}
            k = packed_key(arrs)
            rows = []
            start0 = 0
            if held:
                if int(k[0]) == held_key:
                    diff = np.flatnonzero(k != k[0])
                    cut0 = int(diff[0]) if len(diff) else len(k)
                    if layer_caps:
                        # append then re-compact to one chunk: the
                        # held prefix sorts before its continuation,
                        # so per-(layer) first-cap rows stay final and
                        # held stays O(sum(caps)) however many batches
                        # the hot group spans
                        held.append({c: arrs[c][:cut0] for c in in_cols})
                        merged = (held[0] if len(held) == 1 else
                                  {c: np.concatenate([ch[c] for ch in held])
                                   for c in in_cols})
                        held = [_compact_single_group(merged)]
                        held_n = len(held[0][in_cols[0]])
                    else:
                        held.append({c: arrs[c][:cut0] for c in in_cols})
                        held_n += cut0
                    if cut0 == len(k):
                        continue  # whole batch continues the held group
                    start0 = cut0
                rows.extend(flush_held())
                held, held_n = [], 0
            # boundary indices between consecutive distinct keys
            kk = k[start0:]
            cuts = np.flatnonzero(kk[1:] != kk[:-1]) + 1 + start0
            starts = np.concatenate([[start0], cuts])
            ends = np.concatenate([cuts, [len(k)]])
            # hold back the final group — it may continue in next batch
            hold = int(starts[-1])
            tail = {c: arrs[c][hold:] for c in in_cols}
            if layer_caps:
                tail = _compact_single_group(tail)
            held = [tail]
            held_n = len(tail[in_cols[0]])
            held_key = int(k[hold])
            starts, ends = starts[:-1], ends[:-1]
            if len(starts):
                if layer_caps:
                    arrs, starts, ends = _cap_layer_runs(
                        arrs, k, starts, ends, in_cols)
                if prep is not None:
                    arrs = {**arrs, **prep(arrs)}
                for s, e in zip(starts, ends):
                    rows.extend(fn(arrs, int(s), int(e)))
            if rows:
                yield pd.DataFrame(rows, columns=out_cols)
        if held and held_n:
            rows = flush_held()
            if rows:
                yield pd.DataFrame(rows, columns=out_cols)
        if on_end is not None:
            rows = on_end()
            if rows:
                yield pd.DataFrame(rows, columns=out_cols)

    return part.mapInPandas(run, out_schema)


# ------------------------------------------------------------- layer encode

@dataclass
class LayerSpec:
    """What the encode needs to know about one layer.

    attr_fields: column name -> MVT logical type 'string'|'number'|'bool'
    (the reference's declared-field model, tileset.py:48-77 +
    pgutils.py:115-130: unknown types are dropped with a warning).
    """
    layer_id: str
    index: int
    attr_fields: dict = field(default_factory=dict)
    key_field: str | None = "feature_id"   # MVT feature id (sqltomvt.py:176-179)
    buffer_px: int = 0                     # layer buffer in 256px-tile pixels
    extent: int = DEFAULT_EXTENT
    geometry_kind: str = "point"           # 'point' (px/py cols) or 'wkb'
    max_features_per_tile: int | None = None  # density cap (hot-cell skew)
    importance_col: str | None = None      # cap ordering (desc); ties by key
    post_assign: object = None             # callable(df)->df after tile
    #                                        assignment (df has z,x,y): the
    #                                        per-zoom gating hook (P3/P6 —
    #                                        e.g. LineLabel keeps a road's
    #                                        label only at zooms where it
    #                                        fits, sql/LineLabel.sql:18-34)


def _attr_value(v, kind: str):
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return None
    if kind == "bool":
        return bool(v)
    if kind == "number":
        # integer inputs stay exact ints (MVT int_value is 64-bit) — no
        # round-trip through float, which would lose |v| >= 2**53;
        # float inputs become int only when exactly representable.
        # int_value is an int64: anything outside its range would WRAP
        # in the varint encoder, so demote those to double instead
        if isinstance(v, (int, np.integer)) and not isinstance(
                v, (bool, np.bool_)):
            iv = int(v)
            return iv if -(2 ** 63) <= iv < 2 ** 63 else float(iv)
        f = float(v)
        return int(f) if f.is_integer() and abs(f) < 2**53 else f
    return str(v)


def _attr_convert_batch(vals: np.ndarray, kind: str) -> np.ndarray:
    """Batch twin of _attr_value: one object ndarray of converted MVT
    attribute values per Arrow batch (None for null/NaN), element-wise
    byte-exact with the scalar (fuzz parity test tests/test_mvt.py).
    Typed dtypes take vectorized paths (the attribute-heavy-layer hot
    spot — previously a per-row Python loop per tile group); object
    arrays from Spark string/bool columns are passed through with one
    isna mask; anything else falls back to the scalar loop."""
    import pandas as pd

    n = len(vals)
    out = np.empty(n, dtype=object)
    if kind == "number":
        if vals.dtype.kind in "iu":
            out[:] = vals.tolist()                      # python ints
            if vals.dtype.kind == "u" and vals.dtype.itemsize == 8:
                big = np.flatnonzero(vals >= np.uint64(2 ** 63))
                for i in big.tolist():                  # int64 overflow
                    out[i] = float(out[i])              # -> double_value
            return out
        if vals.dtype.kind == "f":
            f = vals.astype(np.float64, copy=False)
            nan = np.isnan(f)
            out[:] = f.tolist()                         # python floats
            ii = np.flatnonzero(~nan & (f == np.floor(f))
                                & (np.abs(f) < 2.0 ** 53))
            if len(ii):
                out[ii] = np.array(
                    f[ii].astype(np.int64).tolist(), dtype=object)
            out[nan] = None
            return out
    elif kind == "bool":
        if vals.dtype.kind == "b":
            out[:] = vals.tolist()                      # python bools
            return out
        if vals.dtype == object and all(
                v is None or type(v) is bool for v in vals):
            na = pd.isna(vals)                          # bool|None column
            out[:] = vals
            out[na] = None
            return out
    else:  # string
        if vals.dtype == object and all(
                v is None or type(v) is str for v in vals):
            na = pd.isna(vals)                          # str|None column
            out[:] = vals
            out[na] = None
            return out
    out[:] = [_attr_value(v, kind) for v in vals.tolist()]
    return out


def _partial_cap_sel(zxy: np.ndarray, keys: np.ndarray,
                     cap: int) -> np.ndarray:
    """Positions of the `cap` smallest `keys` per distinct zxy — the
    MAP-SIDE partial density cap for key-ordered caps. Each producer
    batch keeps at most `cap` rows per tile, an exact SUPERSET of the
    global per-tile top-k (any row of the global top-k has, within its
    own batch, at most k-1 tile-mates with smaller keys), so the
    reduce-side compaction (grouped_map_sorted layer_caps / kernel
    slice) finalizes the identical selection while a hot tile ships
    cap x batches rows across the exchange instead of its full
    fan-out. Returns ascending positions; O(n log n) numpy."""
    order = np.lexsort((keys, zxy))
    sz = zxy[order]
    new = np.concatenate([[0], np.flatnonzero(sz[1:] != sz[:-1]) + 1])
    starts = np.repeat(new, np.diff(np.concatenate([new, [len(sz)]])))
    rank = np.arange(len(sz), dtype=np.int64) - starts
    sel = order[rank < cap]
    sel.sort()
    return sel


def _kernel_cap(spec) -> int | None:
    """Density cap applied INSIDE the grouped encode pass: when the
    cap ordering is the sort key alone (no importance column), the
    grouped pass's within-partition sort (zxy, key) already puts each
    tile's K smallest keys first, so cutting each run to K rows is
    byte-identical to the Window row_number() <= K path — with the
    window's whole extra shuffle+sort of the fan-out eliminated.
    Importance-ordered caps keep the window (selection order differs
    from the encode's key order, so a slice can't reproduce it)."""
    if spec.max_features_per_tile and spec.key_field \
            and not spec.importance_col:
        return int(spec.max_features_per_tile)
    return None
