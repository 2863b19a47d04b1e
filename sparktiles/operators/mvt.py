"""MVT aggregation operators — the engine's two custom "UDAFs".

Reproduces the reference tile query spine (openmaptiles/sqltomvt.py):

  per layer:  ST_AsMVTGeom(geom, TileBBox(z,x,y), extent, buffer, true)
              + ST_AsMVT(rows, layer_id, extent, 'mvtgeometry')
              (sqltomvt.py:160-224)                      -> encode_layer_df
  per tile:   STRING_AGG(mvtl, '' ORDER BY _layer_index)
              [+ GZIP(...)] + md5(mvt) AS key
              (sqltomvt.py:104-140)                      -> assemble_tiles

Both are grouped pandas UDFs (Arrow batches); geometry math is numpy.
Determinism: features are sorted by feature_id within each (tile, layer)
group before dictionary encoding, so tile bytes and md5 tile_ids are
stable across shuffles (ST_AsMVT relies on query ORDER BY; an unordered
Spark shuffle would otherwise produce unstable bytes).
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparktiles.functions import geom as G
from sparktiles.functions import mvtcodec as C
from sparktiles.functions.tilemath import TILEBBOX_MAX, tile_bbox
from sparktiles.functions.vecmvt import _ragged_arange

DEFAULT_EXTENT = 4096
_MASK29 = (1 << 29) - 1


# ------------------------------------------------------------- asmvtgeom

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
            parts = G.clip_line_rect(t, lo, lo, hi, hi) if clip else [t]
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
                r = G.clip_ring_rect(t, lo, lo, hi, hi) if clip else t
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
    Memoized per batch keyed by (type, value) — the same collapse rule
    the per-group memo in encode_layer_points_prepped applies (str keys
    skip the tuple; a str never equals a tuple) — so repeated values
    encode once per batch and candidate fan-outs share blob objects."""
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


def _vals_columns(out: dict, col_blobs: list, idx, n_vals: int) -> None:
    """Fill _v0.._v{n_vals-1} into `out`: column a = that attr's blob
    gathered at batch indices idx (the candidate fan-out shares blob
    objects); columns beyond the layer's width are None-padded."""
    n = len(idx)
    for a in range(n_vals):
        out[f"_v{a}"] = (col_blobs[a][idx] if a < len(col_blobs)
                         else [None] * n)


def with_wkb_encoded_fields(features: DataFrame, spec,
                            normalized: bool = False,
                            n_vals: int | None = None) -> DataFrame:
    """Map-side ST_AsMVTGeom + wire-encode for WKB (line/polygon/mixed)
    layers — the WKB twin of with_point_tile_coords, BEFORE the (z,x,y)
    shuffle. Each Arrow batch runs the batch-vectorized pipeline
    (functions/vecmvt.py): WKB decode -> tile transform -> clip
    (Liang-Barsky / Sutherland-Hodgman) -> snap -> MVT command-stream
    varints. Output rows carry the packed zxy key plus the pre-framed
    wire pieces (_fidf / _gt / _geomf); rows whose geometry clips away
    never shuffle at all.

    Scale effect: the pyramid shuffle previously moved the full-
    resolution float64 WKB once PER OVERLAPPED TILE; now it moves small
    tile-local varint streams (typically 5-20x smaller, and zero bytes
    for clipped-away candidates from the bbox over-approximation), and
    the post-shuffle kernel is pure dictionary/framing assembly — no
    geometry math after the exchange.

    normalized=True emits the normalized-row shape (norm_schema) instead (attr values
    pre-encoded as Value blobs, plus _li/_sk) — the multi-layer
    single-shuffle spine's input; add_imp appends the importance value
    as `_imp double` for the density-cap window.
    """
    import pandas as pd

    from sparktiles.functions.vecmvt import fid_fields_vec, wkb_row_fields_vec

    extent = spec.extent
    mvt_buffer = int(spec.extent * spec.buffer_px / 256)
    key_field = spec.key_field
    attr_items = list(spec.attr_fields.items())
    layer_index = spec.index
    imp_col = spec.importance_col
    add_imp = normalized and spec.max_features_per_tile and imp_col
    passthru = list(spec.attr_fields)
    if key_field:
        passthru = [key_field] + [c for c in passthru if c != key_field]
    if imp_col and imp_col not in passthru:
        passthru.append(imp_col)
    # cap tie-break for keyless capped layers: _sk is constant 0 then,
    # so carry the same raw column _prep_layer_features orders its
    # window by (`key_field or needed[-1]` = the last projected
    # attr/importance column) as `_ord` — keeps the normalized cap's
    # selection deterministic and parity with the two-phase path
    ord_col = (passthru[-1] if normalized and spec.max_features_per_tile
               and not key_field and passthru else None)
    if normalized:
        nv = n_vals if n_vals is not None else len(attr_items)
        out_schema = norm_schema(nv) + (", _imp double" if add_imp else "")
        if ord_col:
            out_schema += (", _ord "
                           + features.schema[ord_col].dataType.simpleString())
    else:
        in_schema = features.schema
        out_fields = ["zxy long"]
        for c in passthru:
            out_fields.append(f"`{c}` {in_schema[c].dataType.simpleString()}")
        out_fields += ["_fidf binary", "_gt tinyint", "_geomf binary"]
        out_schema = ", ".join(out_fields)

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            z = pdf["z"].to_numpy().astype(np.int64)
            x = pdf["x"].to_numpy().astype(np.int64)
            y = pdf["y"].to_numpy().astype(np.int64)
            gf, gt = wkb_row_fields_vec(
                pdf["geom"].to_numpy(), z, x, y, extent, mvt_buffer)
            keep = np.array([f is not None for f in gf], dtype=bool)
            if not keep.any():
                continue
            ki = np.flatnonzero(keep)
            zxy = (z[ki] << 58) ^ (x[ki] << 29) ^ y[ki]
            out = {"zxy": zxy}
            if normalized:
                nk = len(ki)
                out["_li"] = np.full(nk, layer_index, dtype=np.int32)
                if key_field:
                    fids = pdf[key_field].to_numpy()[ki]
                    out["_sk"] = fids
                    out["_fidf"] = fid_fields_vec(fids)
                else:
                    out["_sk"] = np.zeros(nk, dtype=np.int64)
                    out["_fidf"] = [None] * nk
                out["_gt"] = gt[ki]
                out["_geomf"] = [gf[i] for i in ki.tolist()]
                col_blobs = [
                    _value_blobs_batch(_attr_convert_batch(
                        pdf[k].to_numpy(), t)) for k, t in attr_items]
                _vals_columns(out, col_blobs, ki, nv)
                if add_imp:
                    out["_imp"] = pdf[imp_col].to_numpy()[ki]
                if ord_col:
                    out["_ord"] = pdf[ord_col].to_numpy()[ki]
            else:
                for c in passthru:
                    out[c] = pdf[c].to_numpy()[ki]
                if key_field:
                    out["_fidf"] = fid_fields_vec(out[key_field])
                else:
                    out["_fidf"] = [None] * len(ki)
                out["_gt"] = gt[ki]
                out["_geomf"] = [gf[i] for i in ki.tolist()]
            yield pd.DataFrame(out)

    return features.mapInPandas(run, out_schema)


# per-flush candidate-row cap for the fused supercover stage: bounds
# one Arrow batch's in-flight fan-out (candidate index arrays + encoded
# streams) regardless of zoom depth — a z0-z14 span over long
# geometries would otherwise materialize the whole 15-zoom fan-out in
# one worker before yielding (ADVICE r4)
FUSED_CANDIDATE_CAP = 262_144


def with_wkb_supercover_encoded_fields(features: DataFrame, spec,
                                       minzoom: int, maxzoom: int,
                                       normalized: bool = False,
                                       candidate_cap: int | None = None,
                                       n_vals: int | None = None,
                                       ) -> DataFrame:
    """FUSED supercover assignment + map-side encode for WKB layers:
    one mapInPandas stage computes the tile cover (functions/tilecover)
    AND runs the vecmvt clip/encode pipeline over the candidate index
    views — candidate rows never cross an Arrow boundary carrying raw
    WKB, and each feature's WKB is decoded once per batch for the
    cover plus once per (feature, zoom-chunk) in the encode
    (adjacent-dup replay), instead of serialized+decoded per candidate.

    Candidates are encoded and yielded in chunks of at most
    FUSED_CANDIDATE_CAP rows (never mid-zoom-coherence-critical: chunk
    boundaries only affect batching, bytes per row are identical), so
    deep pyramids (z0-z14) cannot balloon one worker's memory with the
    whole zoom-span fan-out.

    Byte-equal to assign_supercover_tiles_multi -> with_wkb_encoded_
    fields (asserted in tests/test_tilecover.py); usable whenever the
    layer has no post_assign hook and no only_tiles restriction (those
    need the assigned rows as a DataFrame between the stages).
    normalized=True emits normalized rows (see with_wkb_encoded_fields)."""
    import pandas as pd

    from sparktiles.functions.tilecover import cover_cells_zoom
    from sparktiles.functions.vecmvt import (
        decode_wkb_batch,
        fid_fields_vec,
        wkb_row_fields_vec,
    )

    cap = int(candidate_cap or FUSED_CANDIDATE_CAP)
    extent = spec.extent
    mvt_buffer = int(spec.extent * spec.buffer_px / 256)
    bf = float(spec.buffer_px) / 256.0
    key_field = spec.key_field
    attr_items = list(spec.attr_fields.items())
    layer_index = spec.index
    imp_col = spec.importance_col
    add_imp = normalized and spec.max_features_per_tile and imp_col
    mkcap = _kernel_cap(spec) if normalized else None
    passthru = list(spec.attr_fields)
    if key_field:
        passthru = [key_field] + [c for c in passthru if c != key_field]
    if imp_col and imp_col not in passthru:
        passthru.append(imp_col)
    # keyless-cap tie-break column — see with_wkb_encoded_fields
    ord_col = (passthru[-1] if normalized and spec.max_features_per_tile
               and not key_field and passthru else None)
    if normalized:
        nv = n_vals if n_vals is not None else len(attr_items)
        out_schema = norm_schema(nv) + (", _imp double" if add_imp else "")
        if ord_col:
            out_schema += (", _ord "
                           + features.schema[ord_col].dataType.simpleString())
    else:
        in_schema = features.schema
        out_fields = ["zxy long"]
        for c in passthru:
            out_fields.append(f"`{c}` {in_schema[c].dataType.simpleString()}")
        out_fields += ["_fidf binary", "_gt tinyint", "_geomf binary"]
        out_schema = ", ".join(out_fields)

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            blobs = pdf["geom"].to_numpy()
            pt, ln, pg = decode_wkb_batch(blobs)
            if normalized:
                col_blobs = [
                    _value_blobs_batch(_attr_convert_batch(
                        pdf[k].to_numpy(), t)) for k, t in attr_items]
                fall = fid_fields_vec(
                    pdf[key_field].to_numpy()) if key_field else None
                sk_all = pdf[key_field].to_numpy() if key_field else None
                imp_all = pdf[imp_col].to_numpy() if add_imp else None
                ord_all = pdf[ord_col].to_numpy() if ord_col else None

            def flush(idx, zs, xs, ys):
                gf, gt = wkb_row_fields_vec(
                    blobs[idx], zs, xs, ys, extent, mvt_buffer)
                keep = np.array([f is not None for f in gf], dtype=bool)
                if not keep.any():
                    return None
                kpos = np.flatnonzero(keep)
                ki = idx[kpos]
                zxyv = (zs[kpos] << 58) ^ (xs[kpos] << 29) ^ ys[kpos]
                if (normalized and mkcap is not None
                        and sk_all.dtype.kind in "iu"):
                    # map-side partial cap for key-ordered caps: this
                    # flush keeps only its mkcap smallest keys per tile
                    # (clip already ran — the cap counts survivors);
                    # the reduce-side compaction finalizes the exact
                    # selection. Numeric keys only: numpy's order is
                    # Spark's there; string collation could differ.
                    sel = _partial_cap_sel(zxyv, sk_all[ki], mkcap)
                    if len(sel) < len(kpos):
                        kpos, ki, zxyv = kpos[sel], ki[sel], zxyv[sel]
                out = {"zxy": zxyv}
                if normalized:
                    nk = len(ki)
                    out["_li"] = np.full(nk, layer_index, dtype=np.int32)
                    if key_field:
                        out["_sk"] = sk_all[ki]
                        out["_fidf"] = [fall[i] for i in ki.tolist()]
                    else:
                        out["_sk"] = np.zeros(nk, dtype=np.int64)
                        out["_fidf"] = [None] * nk
                    out["_gt"] = gt[kpos]
                    out["_geomf"] = [gf[i] for i in kpos.tolist()]
                    _vals_columns(out, col_blobs, ki, nv)
                    if add_imp:
                        out["_imp"] = imp_all[ki]
                    if ord_col:
                        out["_ord"] = ord_all[ki]
                else:
                    for c in passthru:
                        out[c] = pdf[c].to_numpy()[ki]
                    if key_field:
                        out["_fidf"] = fid_fields_vec(out[key_field])
                    else:
                        out["_fidf"] = [None] * len(ki)
                    out["_gt"] = gt[kpos]
                    out["_geomf"] = [gf[i] for i in kpos.tolist()]
                return pd.DataFrame(out)

            pend, pend_n = [], 0
            for z in range(minzoom, maxzoom + 1):
                r, cx, cy = cover_cells_zoom(pt, ln, pg, z, bf)
                for s in range(0, len(r), cap):
                    e = s + cap
                    rs = r[s:e]
                    pend.append((rs, np.full(len(rs), z, dtype=np.int64),
                                 cx[s:e], cy[s:e]))
                    pend_n += len(rs)
                    if pend_n >= cap:
                        out = flush(*[np.concatenate(p) for p in zip(*pend)])
                        pend, pend_n = [], 0
                        if out is not None:
                            yield out
            if pend:
                out = flush(*[np.concatenate(p) for p in zip(*pend)])
                if out is not None:
                    yield out

    return features.mapInPandas(run, out_schema)


def with_point_tile_coords(features: DataFrame, extent: int,
                           mvt_buffer: int) -> DataFrame:
    """Map-side ST_AsMVTGeom for points, as Catalyst expressions: tile-
    local integer coords ix/iy (same float order + round-half-even as
    as_mvt_geom_points, so output bytes are identical), the clip filter,
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


def _normalize_point_prepped(features: DataFrame, spec,
                             n_vals: int | None = None) -> DataFrame:
    """Normalized-row emitter for point layers: input is the
    with_point_tile_coords output (zxy, ix, iy, attrs, key); one
    mapInPandas computes the fid/geom wire pieces (point_row_fields_vec)
    and per-batch pre-encoded attr Value blobs — the point twin of the
    normalized WKB emitters, ahead of the single multi-layer shuffle."""
    import pandas as pd

    key_field = spec.key_field
    attr_items = list(spec.attr_fields.items())
    layer_index = spec.index
    nv = n_vals if n_vals is not None else len(attr_items)

    def run(batches):
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            fids = pdf[key_field].to_numpy() if key_field else None
            ff, gf = C.point_row_fields_vec(
                fids, pdf["ix"].to_numpy(), pdf["iy"].to_numpy())
            col_blobs = [
                _value_blobs_batch(_attr_convert_batch(
                    pdf[k].to_numpy(), t)) for k, t in attr_items]
            out = {
                "zxy": pdf["zxy"].to_numpy(),
                "_li": np.full(n, layer_index, dtype=np.int32),
                "_sk": fids if key_field else np.zeros(n, dtype=np.int64),
                "_fidf": ff if ff is not None else [None] * n,
                "_gt": np.full(n, C.GEOM_POINT, dtype=np.int8),
                "_geomf": gf,
            }
            _vals_columns(out, col_blobs, np.arange(n), nv)
            yield pd.DataFrame(out)

    return features.mapInPandas(run, norm_schema(nv))


def _normalize_point_fused(features: DataFrame, spec, minz: int, maxz: int,
                           n_vals: int | None = None) -> DataFrame:
    """Fused assign + ST_AsMVTGeom + normalize for POINT layers: the
    per-zoom tile fan-out happens INSIDE the kernel, the point twin of
    the fused supercover WKB stage.

    Scale effect: the exploded path materializes ~(maxz-minz+1) rows
    per feature JVM-side and ships that whole fan-out across Arrow into
    Python just to varint-pack it (the measured ml map stage: 988k
    features -> 11.9M Arrow rows). Here each base feature crosses Arrow
    exactly once and each attribute encodes to its Value wire blob once
    per base row — candidates gather shared blob objects — so map-side
    memory traffic drops ~10x on the layer kind that dominates real
    tilesets' row counts. Output rows are byte-identical to
    assign_point_tiles_multi -> with_point_tile_coords ->
    _normalize_point_prepped (pytest row-level parity): every float op
    below mirrors the Catalyst expression sequence exactly (same IEEE
    double op order, floor, round-half-even rint; reference tile-bbox
    semantics per openmaptiles-tools sqltomvt.py:197-242)."""
    import pandas as pd

    from sparktiles.functions.tilemath import (
        HALF_WORLD,
        TILEBBOX_MAX,
        WORLD_MERC_WIDTH,
    )

    key_field = spec.key_field
    attr_items = list(spec.attr_fields.items())
    layer_index = spec.index
    extent = spec.extent
    mvt_buffer = int(extent * spec.buffer_px / 256)
    lo, hi = -float(mvt_buffer), float(extent + mvt_buffer)
    bf = float(spec.buffer_px) / 256.0
    imp_col = spec.importance_col
    cap = spec.max_features_per_tile
    add_imp = bool(cap and imp_col)
    kcap = _kernel_cap(spec)
    # cap tie-break parity with the two-phase path's window ordering
    # (`key_field or needed[-1]`, see normalize_layer_df): keyless
    # capped layers carry the raw tie-break column as _ord
    passthru = list(spec.attr_fields)
    if imp_col and imp_col not in passthru:
        passthru.append(imp_col)
    ord_col = None
    if cap and not key_field:
        ord_col = passthru[-1] if passthru else "py"
    nv = n_vals if n_vals is not None else len(attr_items)
    out_schema = norm_schema(nv) + (", _imp double" if add_imp else "")
    if ord_col:
        out_schema += (", _ord "
                       + features.schema[ord_col].dataType.simpleString())

    def run(batches):
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            px = pdf["px"].to_numpy()
            py = pdf["py"].to_numpy()
            fids = pdf[key_field].to_numpy() if key_field else None
            # attr -> Value blob ONCE per base row; candidates gather
            col_blobs = [
                _value_blobs_batch(_attr_convert_batch(
                    pdf[k].to_numpy(), t)) for k, t in attr_items]
            base = np.arange(n, dtype=np.int64)
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
            if not parts:
                continue
            idx = np.concatenate([p[0] for p in parts])
            zxy = np.concatenate([p[1] for p in parts])
            ixc = np.concatenate([p[2] for p in parts])
            iyc = np.concatenate([p[3] for p in parts])
            if kcap is not None and fids.dtype.kind in "iu":
                # map-side partial cap (key-ordered caps only): keep
                # this batch's kcap smallest keys per tile BEFORE
                # building wire pieces — an exact superset of the
                # global selection (any row of the global per-tile
                # top-k ranks <= k within its own batch), which the
                # reduce-side layer_caps compaction then finalizes.
                # Bounds what a hot tile ships: cap x batches, not its
                # full fan-out (the z0 group = every feature, every
                # batch). Clip already ran above, so the cap counts
                # clip survivors — same as the window semantics.
                # Numeric keys only (numpy order == Spark order).
                sel = _partial_cap_sel(zxy, fids[idx], kcap)
                if len(sel) < len(idx):
                    idx, zxy = idx[sel], zxy[sel]
                    ixc, iyc = ixc[sel], iyc[sel]
            m = len(idx)
            fid_c = fids[idx] if fids is not None else None
            ff, gf = C.point_row_fields_vec(fid_c, ixc, iyc)
            out = {
                "zxy": zxy,
                "_li": np.full(m, layer_index, dtype=np.int32),
                "_sk": (fid_c if fid_c is not None
                        else np.zeros(m, dtype=np.int64)),
                "_fidf": ff if ff is not None else [None] * m,
                "_gt": np.full(m, C.GEOM_POINT, dtype=np.int8),
                "_geomf": gf,
            }
            _vals_columns(out, col_blobs, idx, nv)
            if add_imp:
                out["_imp"] = pdf[imp_col].to_numpy()[idx]
            if ord_col:
                out["_ord"] = pdf[ord_col].to_numpy()[idx]
            yield pd.DataFrame(out)

    return features.mapInPandas(run, out_schema)


def normalize_layer_df(features: DataFrame, spec,
                       zoom_range: tuple[int, int] | None = None,
                       n_vals: int | None = None) -> DataFrame:
    """One layer -> normalized rows (norm_schema), entirely MAP-SIDE (the density cap
    is the one exception — it needs a per-tile window). This is the
    per-layer half of the single-shuffle multi-layer spine: the caller
    unions every layer's normalized frame and runs ONE (zxy) grouped
    pass (assemble_normalized) doing per-layer dictionary encode +
    ordered concat + gzip + md5.

    features: assigned rows (z,x,y present) for points / non-fused WKB,
    or the RAW feature frame with zoom_range for the fused paths
    (supercover WKB, in-kernel fan-out points).
    """
    key_field = spec.key_field
    fused = zoom_range is not None and spec.geometry_kind == "wkb"
    fused_pt = zoom_range is not None and spec.geometry_kind == "point"
    geom_cols = ["px", "py"] if spec.geometry_kind == "point" else ["geom"]
    needed = (([] if (fused or fused_pt) else ["z", "x", "y"])
              + geom_cols + list(spec.attr_fields))
    if key_field and key_field not in needed:
        needed.append(key_field)
    if spec.importance_col and spec.importance_col not in needed:
        needed.append(spec.importance_col)
    features = features.select(*dict.fromkeys(needed))

    cap = spec.max_features_per_tile
    if fused_pt:
        norm = _normalize_point_fused(features, spec, zoom_range[0],
                                      zoom_range[1], n_vals)
        return _normalized_cap(norm, spec)
    if spec.geometry_kind == "point":
        mvt_buffer = int(spec.extent * spec.buffer_px / 256)
        feats = with_point_tile_coords(features, spec.extent, mvt_buffer)
        if cap and _kernel_cap(spec) is None:
            # identical window to _prep_layer_features (pre-normalize,
            # so ordering columns are still raw). Key-ordered caps
            # skip this entirely — the spine's grouped pass compacts
            # per (tile, layer) run (grouped_map_sorted layer_caps) +
            # kernel slice; only importance/keyless selections, whose
            # order differs from the encode sort, need the window
            # (single window + WindowGroupLimit pruning, see
            # _capped_window)
            order = []
            if spec.importance_col:
                order.append(F.desc(spec.importance_col))
            order.append(F.col(key_field or needed[-1]))
            feats = _capped_window(feats, cap, order)
        return _normalize_point_prepped(feats, spec, n_vals)

    if fused:
        norm = with_wkb_supercover_encoded_fields(
            features, spec, zoom_range[0], zoom_range[1], normalized=True,
            n_vals=n_vals)
    else:
        norm = with_wkb_encoded_fields(features, spec, normalized=True,
                                       n_vals=n_vals)
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
    batch compaction + kernel slice (assemble_normalized /
    grouped_map_sorted layer_caps) — same selection, zero extra
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
        # (mirrors _prep_layer_features' `key_field or needed[-1]`)
        keyed = "_ord" not in norm.columns
        order.append(F.col("_sk" if keyed else "_ord"))
        norm = _capped_window(norm, cap, order)
    for aux in ("_imp", "_ord"):
        if aux in norm.columns:
            norm = norm.drop(aux)
    return norm


def assemble_normalized(norm: DataFrame, specs,
                        gzip_level: int | None = None) -> DataFrame:
    """The single-shuffle multi-layer tile builder: input is the union
    of normalize_layer_df frames (norm_schema width-aligned); ONE repartition on the
    packed zxy key + within-partition sort (zxy, _li, _sk), then one
    grouped pass per tile that dictionary-encodes each layer's values,
    frames its features, concatenates layer messages in _li order,
    gzips, and md5s — the multi-layer twin of
    encode_and_assemble_single. Output: z,x,y,mvt,tile_id.

    Byte parity with assemble_tiles(union(encode_layer_df(...)))
    (pytest-asserted) with one deliberate nuance: value dictionaries
    dedupe by ENCODED BYTES with a per-batch (type,value) memo, so
    mixed +-0.0 within one tile-layer-column can differ from the
    two-phase path's per-group raw-value memo — numerically equal
    either way."""
    frame_by_idx = {}
    for spec in specs:
        keys = list(spec.attr_fields)
        frame_by_idx[spec.index] = (
            C.layer_frame_blobs(spec.layer_id, keys, spec.extent),
            [C.varint_cached(ki) for ki in range(len(keys))],
            len(keys),
            _kernel_cap(spec),
        )

    def tile(arrs: dict, s: int, e: int) -> list[tuple]:
        z, tx, ty = unpack_zxy(int(arrs["zxy"][s]))
        li = arrs["_li"]
        fidf = arrs["_fidf"]
        gts = arrs["_gt"]
        geomf = arrs["_geomf"]
        pieces = []
        i = s
        while i < e:
            lcur = int(li[i])
            j = i
            while j < e and li[j] == lcur:
                j += 1
            (header, keys_blob, extent_blob), key_bytes, n_attr, kcap = \
                frame_by_idx[lcur]
            je = j if kcap is None else min(j, i + kcap)
            vcols = [arrs[f"_v{a}"] for a in range(n_attr)]
            values: list[bytes] = []
            value_idx: dict[bytes, int] = {}
            parts: list[bytes] = []
            vc = C.varint_cached
            for r in range(i, je):
                tags = b""
                for ki in range(n_attr):
                    ev = vcols[ki][r]
                    if ev is None:
                        continue
                    vi = value_idx.get(ev)
                    if vi is None:
                        vi = value_idx[ev] = len(values)
                        values.append(ev)
                    tags += key_bytes[ki] + vc(vi)
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
            pieces.append(C._len_field(3, body))
            i = j
        blob = b"".join(pieces)
        if gzip_level is not None:
            blob = C.gzip_blob(blob, gzip_level)
        return [(z, tx, ty, blob, hashlib.md5(blob).hexdigest())]

    # key-ordered density caps run entirely in this pass: per-(tile,
    # layer) batch compaction inside grouped_map_sorted bounds Arrow +
    # held-group memory for hot tiles (the z0 group = the whole
    # corpus), and the kernel's je slice above is the final authority.
    # No cap window, no extra exchange — the build keeps ONE Exchange
    # (plan-asserted) capped or not.
    layer_caps = {spec.index: _kernel_cap(spec) for spec in specs
                  if _kernel_cap(spec) is not None}
    return grouped_map_sorted(
        norm, ["zxy"], tile,
        "z int, x long, y long, mvt binary, tile_id string",
        sort_extra=["_li", "_sk"],
        layer_caps=layer_caps or None,
    )



# ------------------------------------------------------------- grouped map

def grouped_map_sorted(
    df: DataFrame,
    keys: list[str],
    fn,
    out_schema: str,
    sort_extra: list[str] | None = None,
    prep=None,
    group_cap: int | None = None,
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

    `group_cap`: keep only the first N rows of every group (rows are
    sorted, so these are the cap's selection) BEFORE prep runs — the
    kernel-level density cap's compaction step. Without it a capped hot
    group (one z0 tile = the whole corpus) would pay Arrow + prep for
    millions of rows it then slices away. The held-back partial group
    is capped too (its continuation rows sort later, so the first N of
    the partial prefix are final).

    `layer_caps`: the multi-layer twin of group_cap — {_li value:
    cap}. Rows are sorted (key, _li, _sk), so each (group, layer) run
    is contiguous and its first `cap` rows ARE the key-ordered cap's
    selection; runs of layers absent from the dict are kept whole.
    Complete groups compact per-run before prep; the held partial
    group is re-compacted after every appended batch, so a capped hot
    group spanning B batches holds O(sum(caps)) rows, not O(rows).
    Mutually exclusive with group_cap.

    `partitioned`: `df` is already hash-partitioned on the keys and
    sorted within partitions (e.g. a checkpointed frame several kernels
    share) — skip the repartition + sort.

    `on_end`: called once per partition after its last group; the rows
    it returns are emitted too (per-task totals, accumulator flushes).
    """
    import pandas as pd

    # Partition-count policy for this exchange (measured, BENCH.md
    # round-5 "granularity" section): encode cost is CPU-per-row while
    # AQE sizes by shuffle BYTES, and in the fused build the same
    # tasks also write the partitioned store, where every extra
    # partition costs ~35 ms of file/commit overhead. So the optimum
    # depends on compute-per-task: a compute-heavy corpus wants >= 1
    # wave per core (AQE's byte advisory starved an 8-core 988k-point
    # encode down to 3-8 tasks -> idle_share 0.47), while a small
    # corpus wants AQE's few-large-files choice (forcing 128
    # partitions on the sf0.1 bench cost +70% wall, all in the
    # write). Default: AQE-managed. Set
    # `spark.sparktiles.encodePartitions` (e.g. 4x total cores) when
    # encode compute, not file count, dominates — the scaling tools
    # do.
    n_enc = df.sparkSession.conf.get("spark.sparktiles.encodePartitions", None)
    part_cols = [F.col(k) for k in keys]
    part = df if partitioned else (
        df.repartition(int(n_enc), *part_cols)
        if n_enc
        else df.repartition(*part_cols)
    ).sortWithinPartitions(*(keys + (sort_extra or [])))

    out_cols = [s.strip().split()[0].strip("`") for s in out_schema.split(",")]
    in_cols = [f.name for f in df.schema]

    def packed_key(arrs):
        k = arrs[keys[0]].astype(np.int64)
        for extra in keys[1:]:
            k = (k << 29) ^ arrs[extra].astype(np.int64)
        return k  # single pre-packed key column passes through unchanged

    def _cap_groups(arrs, starts, ends, cap, cols):
        """Compact every group to its first `cap` rows (sorted order =
        the cap's selection); recompute boundaries for the compacted
        arrays. O(total kept rows)."""
        lens = np.minimum(ends - starts, cap)
        if int(lens.sum()) == int(ends[-1] - starts[0]) and starts[0] == 0:
            return arrs, starts, ends
        sel = np.repeat(starts, lens) + _ragged_arange(lens)
        arrs = {c: arrs[c][sel] for c in cols}
        new_ends = np.cumsum(lens)
        new_starts = np.concatenate([[0], new_ends[:-1]])
        return arrs, new_starts, new_ends

    if group_cap is not None and layer_caps is not None:
        raise ValueError("group_cap and layer_caps are mutually exclusive")
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
            if group_cap is not None:
                arrs = {c: arrs[c][:group_cap] for c in in_cols}
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
                    elif group_cap is None or held_n < group_cap:
                        take = cut0 if group_cap is None else min(
                            cut0, group_cap - held_n)
                        held.append({c: arrs[c][:take] for c in in_cols})
                        held_n += take
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
            he = min(int(ends[-1]), hold + group_cap) if group_cap \
                else int(ends[-1])
            tail = {c: arrs[c][hold:he] for c in in_cols}
            if layer_caps:
                tail = _compact_single_group(tail)
            held = [tail]
            held_n = len(tail[in_cols[0]])
            held_key = int(k[hold])
            starts, ends = starts[:-1], ends[:-1]
            if len(starts):
                if group_cap is not None:
                    arrs, starts, ends = _cap_groups(
                        arrs, starts, ends, group_cap, in_cols)
                elif layer_caps:
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
    """What encode_layer_df needs to know about one layer.

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
    """Density cap applied INSIDE the grouped encode kernel: when the
    cap ordering is the sort key alone (no importance column), the
    grouped pass's within-partition sort (zxy, key) already puts each
    tile's K smallest keys first, so slicing the group to K rows is
    byte-identical to the Window row_number() <= K path — with the
    window's whole extra shuffle+sort of the fan-out eliminated.
    Importance-ordered caps keep the window (selection order differs
    from the encode's key order, so a slice can't reproduce it)."""
    if spec.max_features_per_tile and spec.key_field \
            and not spec.importance_col:
        return int(spec.max_features_per_tile)
    return None


def _make_layer_encoder(spec: LayerSpec):
    """Build the per-(z,x,y)-group encode kernel for one layer:
    fn(cols, s, e) -> [(z, x, y, layer_index, blob)] or [] when every
    feature clips away (empty layers are never emitted)."""
    attr_items = list(spec.attr_fields.items())
    extent, buffer_px = spec.extent, spec.buffer_px
    # tile buffer in MVT extent units (sqltomvt.py:199):
    mvt_buffer = int(extent * buffer_px / 256)
    layer_id, layer_index = spec.layer_id, spec.index
    key_field = spec.key_field
    kind = spec.geometry_kind
    frame_blobs = C.layer_frame_blobs(
        layer_id, [k for k, _ in attr_items], extent)
    kcap = _kernel_cap(spec)

    del mvt_buffer  # applied map-side for both kinds

    def encode(arrs: dict, s: int, e: int) -> list[tuple]:
        # transform + clip already ran map-side (with_point_tile_coords
        # for points, with_wkb_encoded_fields for lines/polygons); the
        # fid/geometry wire pieces arrive varint-packed and attrs are
        # pre-converted per batch (_attr_convert_batch in the prep
        # hook); this kernel only dictionary-encodes attrs and joins
        # cached pieces. Kernel-level density cap: rows are sorted by
        # key within the group, so the first kcap rows ARE the capped
        # selection (see _kernel_cap).
        if kcap is not None and e - s > kcap:
            e = s + kcap
        z, tx, ty = unpack_zxy(int(arrs["zxy"][s]))
        attr_cols = [(k, arrs["_ac_" + k][s:e]) for k, _t in attr_items]
        blob = C.encode_layer_points_prepped(
            layer_id, arrs["_fidf"] if key_field else None, arrs["_geomf"],
            s, e, attr_cols, extent, frame_blobs=frame_blobs,
            gtypes=None if kind == "point" else arrs["_gt"])
        return [(z, tx, ty, layer_index, blob)]

    return encode


def _make_batch_prep(spec: LayerSpec):
    """Batch-level prep (grouped_map_sorted hook): per-Arrow-batch
    vectorized precompute of everything group-independent — attribute
    value conversion for all kinds, plus fid/geometry wire pieces for
    the point spine (the WKB spine pre-encodes those map-side)."""
    attr_items = list(spec.attr_fields.items())
    key_field = spec.key_field
    is_point = spec.geometry_kind == "point"

    def prep(arrs: dict) -> dict:
        out = {}
        if is_point:
            fids = arrs[key_field] if key_field else None
            ff, gf = C.point_row_fields_vec(fids, arrs["ix"], arrs["iy"])
            out["_fidf"] = ff
            out["_geomf"] = gf
        for k, t in attr_items:
            out["_ac_" + k] = _attr_convert_batch(arrs[k], t)
        return out

    return prep


def _prep_layer_features(features: DataFrame, spec: LayerSpec,
                         zoom_range: tuple[int, int] | None = None,
                         ) -> tuple[DataFrame, list[str]]:
    """Projection + map-side geometry transform/clip/encode (+ optional
    density cap) ahead of the pyramid's (z,x,y) shuffle. Both kinds
    shuffle on the single packed `zxy` key carrying only pre-encoded
    wire pieces: points via Catalyst column math + the varint prep hook,
    WKB lines/polygons via the batch-vectorized vecmvt pipeline.

    zoom_range (WKB only): features are UNASSIGNED (no z/x/y columns);
    supercover assignment and encode run fused in one Python stage."""
    key_field = spec.key_field
    fused = zoom_range is not None and spec.geometry_kind == "wkb"
    # project: shuffle only what the encoder reads (drop url/tags/etc.)
    geom_cols = ["px", "py"] if spec.geometry_kind == "point" else ["geom"]
    needed = ([] if fused else ["z", "x", "y"]) + geom_cols + list(spec.attr_fields)
    if key_field and key_field not in needed:
        needed.append(key_field)
    if spec.importance_col and spec.importance_col not in needed:
        needed.append(spec.importance_col)
    features = features.select(*dict.fromkeys(needed))

    if spec.geometry_kind == "point":
        mvt_buffer = int(spec.extent * spec.buffer_px / 256)
        features = with_point_tile_coords(features, spec.extent, mvt_buffer)
    elif fused:
        features = with_wkb_supercover_encoded_fields(
            features, spec, zoom_range[0], zoom_range[1])
    else:
        features = with_wkb_encoded_fields(features, spec)
    group_keys = ["zxy"]

    if spec.max_features_per_tile and _kernel_cap(spec) is None:
        # density cap — the LabelGrid/rank pattern the reference uses to
        # bound label density (sql/LabelGrid.sql:20-29): a hot tile
        # (one city = one (z,x,y) key) keeps only the top-N features,
        # bounding both encode time and tile bytes. Ordering is
        # importance desc then key for determinism. The cap counts
        # features that survive the clip (the map-side transform runs
        # first for both kinds), so a capped tile carries exactly N.
        # Key-ordered caps skip this window entirely — the encode
        # kernel slices the sorted group instead (_kernel_cap).
        from pyspark.sql.window import Window

        order = []
        if spec.importance_col:
            order.append(F.desc(spec.importance_col))
        order.append(F.col(key_field or needed[-1]))
        w = Window.partitionBy(*group_keys).orderBy(*order)
        features = (
            features.withColumn("_dr", F.row_number().over(w))
            .where(F.col("_dr") <= spec.max_features_per_tile)
            .drop("_dr")
        )
    return features, group_keys


def encode_layer_df(features: DataFrame, spec: LayerSpec,
                    zoom_range: tuple[int, int] | None = None) -> DataFrame:
    """features: z int, x long, y long, feature_id long, px/py double or
    geom binary(WKB), + attr columns per spec. Output: one row per
    (z,x,y): layer_index int, mvtl binary (possibly empty layer skipped).

    zoom_range: WKB fused mode — pass the RAW feature frame (no z/x/y)
    and the zoom span; supercover assignment runs inside the encode
    stage (see with_wkb_supercover_encoded_fields).

    This is the ST_AsMVT equivalent (A1): groupBy(z,x,y) ->
    applyInPandas encoding one MVT layer message per tile.
    """
    encode = _make_layer_encoder(spec)
    features, group_keys = _prep_layer_features(features, spec, zoom_range)
    return grouped_map_sorted(
        features, group_keys, encode,
        "z int, x long, y long, layer_index int, mvtl binary",
        sort_extra=[spec.key_field] if spec.key_field else None,
        prep=_make_batch_prep(spec),
        group_cap=_kernel_cap(spec),
    )


def encode_and_assemble_single(features: DataFrame, spec: LayerSpec,
                               gzip_level: int | None = None,
                               zoom_range: tuple[int, int] | None = None,
                               ) -> DataFrame:
    """Single-layer fast path: fuse ST_AsMVT (A1) and the tile assembly
    STRING_AGG+gzip+md5 (A2/A3) into ONE (z,x,y) grouped pass.

    The two-phase path shuffles twice on the same key — once to encode
    layer blobs, once to concatenate them per tile. With one layer the
    concatenation is the identity, so the second shuffle moves every
    encoded blob for nothing; fusing halves the shuffled bytes and
    removes a stage barrier. Output and bytes are identical to
    assemble_tiles(encode_layer_df(...)).
    """
    encode = _make_layer_encoder(spec)
    features, group_keys = _prep_layer_features(features, spec, zoom_range)

    def tile(arrs: dict, s: int, e: int) -> list[tuple]:
        rows = encode(arrs, s, e)
        if not rows:
            return []
        z, tx, ty, _idx, blob = rows[0]
        if gzip_level is not None:
            blob = C.gzip_blob(blob, gzip_level)
        return [(z, tx, ty, blob, hashlib.md5(blob).hexdigest())]

    return grouped_map_sorted(
        features, group_keys, tile,
        "z int, x long, y long, mvt binary, tile_id string",
        sort_extra=[spec.key_field] if spec.key_field else None,
        prep=_make_batch_prep(spec),
        group_cap=_kernel_cap(spec),
    )


# ------------------------------------------------------------- tile assembly

def assemble_tiles(layer_blobs: DataFrame, gzip_level: int | None = None) -> DataFrame:
    """STRING_AGG(mvtl, '' ORDER BY _layer_index) [+ GZIP] + md5 key
    (reference sqltomvt.py:104-140). Input: z,x,y,layer_index,mvtl.
    Output: z,x,y,mvt binary,tile_id string (md5 hex). Shuffles on the
    packed zxy key (one bigint instead of three columns)."""

    def concat(arrs: dict, s: int, e: int) -> list[tuple]:
        z, tx, ty = unpack_zxy(int(arrs["zxy"][s]))
        blob = b"".join(bytes(b) for b in arrs["mvtl"][s:e])
        if gzip_level is not None:
            blob = C.gzip_blob(blob, gzip_level)
        return [(z, tx, ty, blob, hashlib.md5(blob).hexdigest())]

    lb = layer_blobs.withColumn("zxy", pack_zxy_expr()).drop("z", "x", "y")
    return grouped_map_sorted(
        lb, ["zxy"], concat,
        "z int, x long, y long, mvt binary, tile_id string",
        sort_extra=["layer_index"],
    )
