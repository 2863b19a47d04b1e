"""Single-shuffle multi-layer spine (assemble_normalized) parity.

The plain-Python reference encode (tests/mvt_oracle.py) over the
tile-assigned rows is the byte-semantics reference; the spine must emit
identical tiles with ONE exchange in the plan.
"""

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from mvt_oracle import oracle_tiles
from sparktiles.operators.mvt import (
    LayerSpec,
    assemble_normalized,
    normalize_layer_df,
)
from sparktiles.operators.pyramid import (
    assign_point_tiles_multi,
    assign_supercover_tiles_multi,
)
from sparktiles.sources.geoparse import build_features
from sparktiles.sources.lines import generate_lines
from sparktiles.sources.pages import generate_pages
from sparktiles.sources.polygons import generate_polygons

ZMAX = 5


def _three_layer_frames(spark):
    feats = build_features(generate_pages(spark, 300))
    lines = generate_lines(spark, n=40).withColumnRenamed(
        "line_id", "feature_id")
    polys = generate_polygons(spark, n_grid=5).withColumnRenamed(
        "poly_id", "feature_id")
    return [
        (LayerSpec(layer_id="place", index=0,
                   attr_fields={"name": "string"}, buffer_px=8), feats),
        (LayerSpec(layer_id="transportation", index=1,
                   attr_fields={"class": "string", "name": "string"},
                   buffer_px=4, geometry_kind="wkb"), lines),
        (LayerSpec(layer_id="boundary", index=2,
                   attr_fields={"admin_class": "string", "name": "string"},
                   buffer_px=4, geometry_kind="wkb"), polys),
    ]


def _assigned(spec, feats):
    if spec.geometry_kind == "wkb":
        return assign_supercover_tiles_multi(
            feats, 0, ZMAX, buffer_px=spec.buffer_px)
    return assign_point_tiles_multi(feats, 0, ZMAX, buffer_px=spec.buffer_px)


def _oracle(frames, gzip_level):
    return oracle_tiles([(spec, _assigned(spec, feats).collect())
                         for spec, feats in frames], gzip_level)


def _fused(spark, frames, gzip_level):
    n_vals = max(len(s.attr_fields) for s, _ in frames)
    norm = None
    for spec, feats in frames:
        if spec.geometry_kind == "wkb":
            nf = normalize_layer_df(feats, spec, zoom_range=(0, ZMAX),
                                    n_vals=n_vals)
        else:
            assigned = assign_point_tiles_multi(
                feats, 0, ZMAX, buffer_px=spec.buffer_px)
            nf = normalize_layer_df(assigned, spec, n_vals=n_vals)
        norm = nf if norm is None else norm.unionByName(nf)
    return assemble_normalized(norm, [s for s, _ in frames], gzip_level)


def _tiles_dict(df):
    return {(r.z, r.x, r.y): (bytes(r.mvt), r.tile_id) for r in df.collect()}


@pytest.mark.parametrize("gzip_level", [None, 6])
def test_fused_multilayer_byte_parity(spark, gzip_level):
    frames = _three_layer_frames(spark)
    want = _oracle(frames, gzip_level)
    got = _tiles_dict(_fused(spark, frames, gzip_level))
    assert got == want
    assert len(got) > 50
    # every tile that has the line layer keeps layer order place <
    # transportation < boundary (decode spot check on the largest tile)
    from sparktiles.functions.mvtcodec import decode_tile

    big = max(got.items(), key=lambda kv: len(kv[1][0]))
    layers = list(decode_tile(big[1][0]).keys())
    assert layers == sorted(
        layers, key=["place", "transportation", "boundary"].index)


def test_fused_multilayer_single_exchange(spark):
    """The whole multi-layer build shows exactly ONE Exchange — the
    zxy repartition ahead of the grouped assembly (VERDICT r4 next #2:
    the old path had one exchange per layer plus the blob reshuffle)."""
    frames = _three_layer_frames(spark)
    tiles = _fused(spark, frames, None)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        tiles.explain("formatted")
    plan = buf.getvalue()
    # formatted explain lists each node twice (tree + detail header);
    # count the detail headers "(N) Exchange"
    import re

    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan

    # key-ordered density caps keep the single-exchange plan: the cap
    # runs inside the grouped pass (layer_caps compaction + kernel
    # slice), not as a pre-exchange window
    capped = [(LayerSpec(**{**spec.__dict__, "max_features_per_tile": 9,
                            "post_assign": spec.post_assign}), df)
              for spec, df in frames]
    tiles_c = _fused(spark, capped, None)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        tiles_c.explain("formatted")
    plan_c = buf.getvalue()
    assert len(re.findall(r"\(\d+\) Exchange", plan_c)) == 1, plan_c


def test_fused_multilayer_attr_types_and_cap(spark):
    """Parity under: number/bool attrs with nulls, a no-key layer, and
    a density-capped layer with importance ordering."""
    feats = build_features(generate_pages(spark, 400)).select(
        "feature_id", "px", "py", "name",
        (F.col("feature_id") % 7 == 0).alias("flag"),
        F.when(F.col("feature_id") % 5 == 0, None)
        .otherwise((F.col("feature_id") % 1000) / 8.0).alias("score"),
        (F.col("feature_id") % 100).cast("double").alias("imp"),
    )
    lines = generate_lines(spark, n=30).withColumnRenamed(
        "line_id", "feature_id").withColumn(
        "rank_n", (F.col("feature_id") % 9).cast("double"))
    specs = [
        LayerSpec(layer_id="poi", index=0,
                  attr_fields={"name": "string", "flag": "bool",
                               "score": "number"},
                  buffer_px=8, max_features_per_tile=6,
                  importance_col="imp"),
        LayerSpec(layer_id="roads", index=1,
                  attr_fields={"class": "string", "rank_n": "number"},
                  key_field=None, buffer_px=4, geometry_kind="wkb"),
    ]
    frames = [(specs[0], feats), (specs[1], lines)]

    def fused():
        assigned = assign_point_tiles_multi(feats, 0, ZMAX, buffer_px=8)
        na = normalize_layer_df(assigned, specs[0], n_vals=3)
        nb = normalize_layer_df(lines, specs[1], zoom_range=(0, ZMAX),
                                n_vals=3)
        return assemble_normalized(na.unionByName(nb), specs, 6)

    want = _oracle(frames, 6)
    got = _tiles_dict(fused())
    assert got == want
    assert len(got) > 20


def test_kernel_cap_matches_window_cap(spark):
    """Key-ordered density caps are applied by slicing the sorted group
    inside the encode kernel (no window shuffle); bytes must equal the
    explicit row_number()<=K window selection, for both the fused
    single-layer path and the multi-layer spine."""
    from pyspark.sql.window import Window

    from sparktiles.operators.mvt import encode_and_assemble_single

    feats = build_features(generate_pages(spark, 500))
    capped = LayerSpec(layer_id="place", index=0,
                       attr_fields={"name": "string"}, buffer_px=8,
                       max_features_per_tile=5)
    uncapped = LayerSpec(layer_id="place", index=0,
                         attr_fields={"name": "string"}, buffer_px=8)

    assigned = assign_point_tiles_multi(feats, 0, 4, buffer_px=8)
    got = _tiles_dict(encode_and_assemble_single(assigned, capped, 6))

    # reference selection: explicit window over the same assignment
    from sparktiles.operators.mvt import with_point_tile_coords

    prep = with_point_tile_coords(
        assigned.select("z", "x", "y", "px", "py", "feature_id", "name"),
        4096, 4096 * 8 // 256)
    w = Window.partitionBy("zxy").orderBy("feature_id")
    sel = (prep.withColumn("_r", F.row_number().over(w))
           .where(F.col("_r") <= 5).select("zxy", "feature_id"))
    # count check: every tile carries at most 5 features and the capped
    # build keeps exactly the window's selection size per tile
    per_tile = {r.zxy: r.n for r in
                sel.groupBy("zxy").agg(F.count("*").alias("n")).collect()}
    from sparktiles.functions.mvtcodec import decode_tile
    from sparktiles.operators.mvt import pack_zxy_expr  # noqa: F401

    for (z, x, y), (mvt, _tid) in got.items():
        dec = decode_tile(mvt)
        nf = len(dec["place"]["features"])
        zxy = (z << 58) ^ (x << 29) ^ y
        assert nf == per_tile[zxy] <= 5, (z, x, y)
    # and the capped multi-layer spine agrees with the single-layer path
    nf1 = normalize_layer_df(assigned, capped, n_vals=1)
    multi = _tiles_dict(assemble_normalized(nf1, [capped], 6))
    assert multi == got
    # sanity: cap actually binds somewhere
    full = _tiles_dict(encode_and_assemble_single(assigned, uncapped, 6))
    assert any(full[k] != got[k] for k in got)


def test_fused_keyless_capped_wkb_parity_and_determinism(spark):
    """Density cap on a KEYLESS WKB layer: the normalized frame's _sk
    is constant 0 there, so the cap window must order by the carried
    raw tie-break column (_ord, the last declared attr) for a
    deterministic selection and byte parity with the reference encode.
    rank_n is unique per feature so the cap pick is tie-free."""
    lines = generate_lines(spark, n=60).withColumn(
        "rank_n", F.col("line_id").cast("double")).drop("line_id")
    spec = LayerSpec(layer_id="roads", index=0,
                     attr_fields={"class": "string", "rank_n": "number"},
                     key_field=None, buffer_px=4, geometry_kind="wkb",
                     max_features_per_tile=3)

    def fused():
        nb = normalize_layer_df(lines, spec, zoom_range=(0, ZMAX), n_vals=2)
        assert "_ord" not in nb.columns  # dropped before the union
        return assemble_normalized(nb, [spec], None)

    want = _oracle([(spec, lines)], None)
    got = _tiles_dict(fused())
    assert got == want
    assert got == _tiles_dict(fused())  # stable across runs
    assert len(got) > 10
    # the cap actually bit somewhere: some tile holds exactly 3 features
    from sparktiles.functions.mvtcodec import decode_tile

    n_feats = [len(decode_tile(mvt)["roads"]["features"])
               for mvt, _tid in got.values()]
    assert max(n_feats) == 3


def _norm_rows(df):
    rows = []
    for r in df.collect():
        d = r.asDict()
        rows.append(tuple(
            bytes(v) if isinstance(v, (bytes, bytearray)) else v
            for _, v in sorted(d.items())))
    return sorted(rows)


def test_fused_point_norm_rows_parity(spark):
    """The in-kernel point fan-out (_fused_points) emits the EXACT row
    set of the exploded path (assign_point_tiles_multi ->
    with_point_tile_coords -> _assigned_points): every column of every
    normalized row, including buffered edge-neighbor duplicates and the
    clip filter."""
    spec = LayerSpec(layer_id="place", index=0,
                     attr_fields={"name": "string"}, buffer_px=8)
    feats = build_features(generate_pages(spark, 350)).select(
        "feature_id", "px", "py", "name")
    fused = normalize_layer_df(feats, spec, zoom_range=(0, ZMAX), n_vals=1)
    assigned = assign_point_tiles_multi(feats, 0, ZMAX, buffer_px=8)
    prepped = normalize_layer_df(assigned, spec, n_vals=1)
    assert fused.columns == prepped.columns
    got, want = _norm_rows(fused), _norm_rows(prepped)
    assert len(got) > len(feats.collect())  # fan-out happened
    assert got == want


def test_fused_wkb_norm_rows_parity(spark):
    """The fused WKB source (_fused_wkb: supercover cover + clip in one
    stage) emits the EXACT row set of the assigned path
    (assign_supercover_tiles_multi -> _assigned_wkb): every column of
    every normalized row, for lines and polygons, keyed and keyless."""
    lines = generate_lines(spark, n=30).withColumnRenamed(
        "line_id", "feature_id")
    polys = generate_polygons(spark, n_grid=5).withColumnRenamed(
        "poly_id", "feature_id")
    cases = [
        (LayerSpec(layer_id="transportation", index=1,
                   attr_fields={"class": "string", "name": "string"},
                   buffer_px=4, geometry_kind="wkb"), lines),
        (LayerSpec(layer_id="boundary", index=2,
                   attr_fields={"admin_class": "string"}, key_field=None,
                   buffer_px=4, geometry_kind="wkb"), polys),
    ]
    for spec, feats in cases:
        fused = normalize_layer_df(feats, spec, zoom_range=(0, ZMAX),
                                   n_vals=2)
        assigned = normalize_layer_df(_assigned(spec, feats), spec,
                                      n_vals=2)
        assert fused.columns == assigned.columns
        got, want = _norm_rows(fused), _norm_rows(assigned)
        assert len(got) > len(feats.collect()), spec.layer_id
        assert got == want, spec.layer_id


def test_fused_point_multilayer_byte_parity(spark):
    """3-layer build with the point layer ALSO fused (zoom_range) vs
    the reference encode: identical tiles."""
    frames = _three_layer_frames(spark)
    want = _oracle(frames, 6)
    n_vals = max(len(s.attr_fields) for s, _ in frames)
    norm = None
    for spec, feats in frames:
        nf = normalize_layer_df(feats, spec, zoom_range=(0, ZMAX),
                                n_vals=n_vals)
        norm = nf if norm is None else norm.unionByName(nf)
    got = _tiles_dict(assemble_normalized(
        norm, [s for s, _ in frames], 6))
    assert got == want
    assert len(got) > 50


def test_fused_point_cap_importance_parity(spark):
    """Fused point path under the density cap: keyed + importance
    ordering, and keyless with a carried _ord tie-break — byte parity
    with the reference encode's cap selection."""
    feats = build_features(generate_pages(spark, 400)).select(
        "feature_id", "px", "py", "name",
        (F.col("feature_id") % 100).cast("double").alias("imp"))

    keyed = LayerSpec(layer_id="poi", index=0,
                      attr_fields={"name": "string"}, buffer_px=8,
                      max_features_per_tile=6, importance_col="imp")
    # tie-free keyless cap: unique importance per feature
    uniq = feats.withColumn("imp", F.col("feature_id").cast("double"))
    keyless = LayerSpec(layer_id="poi", index=0,
                        attr_fields={"name": "string"}, key_field=None,
                        buffer_px=8, max_features_per_tile=4,
                        importance_col="imp")
    for spec, f_ in ((keyed, feats), (keyless, uniq)):
        want = _oracle([(spec, f_)], None)
        nf = normalize_layer_df(f_, spec, zoom_range=(0, ZMAX), n_vals=1)
        assert "_imp" not in nf.columns and "_ord" not in nf.columns
        got = _tiles_dict(assemble_normalized(nf, [spec], None))
        assert got == want, spec.key_field
        assert len(got) > 20
        # cap binds somewhere
        from sparktiles.functions.mvtcodec import decode_tile

        cap = spec.max_features_per_tile
        sizes = [len(decode_tile(m)["poi"]["features"])
                 for m, _t in got.values()]
        assert max(sizes) == cap


def test_build_tiles_fused_point_plan(spark):
    """TileBuild's multi-layer spine with fused point + WKB layers:
    exactly ONE Exchange and NO Generate (explode) node — the point
    fan-out happens inside the kernel now."""
    import re

    from sparktiles.plans.config import FieldDef, LayerDef, TilesetDef
    from sparktiles.plans.pipeline import (BuildConfig, TileBuild,
                                           make_point_layer_frames)

    # localCheckpoint the source so the page generator's own posexplode
    # (synthetic-data plumbing) leaves the plan — the assertion below is
    # about the SPINE having no fan-out Generate, not the test fixture.
    feats = build_features(generate_pages(spark, 200)).localCheckpoint()
    tileset = TilesetDef(name="t", layers=[
        LayerDef(id="place", fields=[FieldDef("name")], buffer_size=8)],
        minzoom=0, maxzoom=ZMAX)
    f_ = make_point_layer_frames(feats, tileset)[0][1]
    lines = generate_lines(spark, n=20).withColumnRenamed(
        "line_id", "feature_id")
    frames = [
        (LayerSpec(layer_id="place", index=0,
                   attr_fields={"name": "string"}, buffer_px=8), f_),
        (LayerSpec(layer_id="transportation", index=1,
                   attr_fields={"class": "string"}, buffer_px=4,
                   geometry_kind="wkb"), lines),
    ]
    import tempfile

    mlb = TileBuild(spark, frames, BuildConfig(
        store_dir=tempfile.mkdtemp(prefix="sparktiles_fpt_"),
        minzoom=0, maxzoom=ZMAX, gzip_level=None))
    tiles = mlb._build_tiles((0, ZMAX))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        tiles.explain("formatted")
    plan = buf.getvalue()
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert not re.search(r"\(\d+\) Generate", plan), plan
    assert tiles.count() > 20


def test_batch_spanning_groups_chunked_carry(spark):
    """Groups spanning many Arrow batches (the z0 hot-tile shape) are
    carried as a chunk list and concatenated once; bytes must be
    identical to the single-batch run, with and without a key-ordered
    kernel cap, including when one group spans ALL batches."""
    feats = build_features(generate_pages(spark, 400))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)

    def build(cap):
        spec = LayerSpec(layer_id="place", index=0,
                         attr_fields={"name": "string"}, buffer_px=8,
                         max_features_per_tile=cap)
        from sparktiles.operators.mvt import encode_and_assemble_single
        assigned = assign_point_tiles_multi(feats, 0, 2, buffer_px=8)
        return _tiles_dict(encode_and_assemble_single(assigned, spec, None))

    try:
        for cap in (None, 7):
            spark.conf.set(key, "10000")
            want = build(cap)
            spark.conf.set(key, "37")  # z0 group spans ~11 batches
            got = build(cap)
            assert got == want, f"cap={cap}"
            assert (0, 0, 0) in got  # the whole-corpus z0 group
            assert len(want) == 21   # z0-z2 full universe
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_importance_cap_plan_windowgrouplimit(spark):
    """Importance-ordered density caps must stay skew-safe in the
    PHYSICAL plan: Spark 4 rewrites the row_number()<=K filter into a
    map-side `WindowGroupLimit` BEFORE the exchange (each upstream
    task keeps at most K rows per tile locally, so a hot tile's window
    task never receives the raw row set), and the window's zxy
    hashpartitioning is reused by the grouped encode — ONE Exchange
    for cap + encode combined. A regression here (e.g. an order the
    rewrite can't see through) would silently reintroduce the
    full-fan-in hot-tile window."""
    import re

    feats = build_features(generate_pages(spark, 200)).select(
        "feature_id", "px", "py", "name",
        (F.col("feature_id") % 100).cast("double").alias("imp"))
    spec = LayerSpec(layer_id="poi", index=0,
                     attr_fields={"name": "string"}, buffer_px=8,
                     max_features_per_tile=6, importance_col="imp")
    nf = normalize_layer_df(feats, spec, zoom_range=(0, 3), n_vals=1)
    tiles = assemble_normalized(nf, [spec], None)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        tiles.explain("formatted")
    plan = buf.getvalue()
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    tree = plan[:plan.index("(1)")]
    wgl = [ln for ln in tree.splitlines() if "WindowGroupLimit" in ln]
    exch = [ln for ln in tree.splitlines() if "Exchange" in ln]
    assert wgl and exch, plan
    # at least one WindowGroupLimit sits BELOW the exchange in the
    # tree rendering (deeper indentation, printed after it)
    assert tree.index(exch[0]) < tree.index(wgl[-1]), tree


def test_layer_caps_batch_spanning_parity(spark):
    """Per-layer kernel caps in the SPINE (grouped_map_sorted
    layer_caps): a capped 3-layer build must emit bytes identical to
    (a) the same build with huge Arrow batches and (b) the reference
    encode, including when the z0 hot group spans ~dozens of
    batches — the held-group re-compaction path."""
    frames = _three_layer_frames(spark)
    capped = [(LayerSpec(**{**spec.__dict__, "max_features_per_tile": c,
                            "post_assign": spec.post_assign}), df)
              for (spec, df), c in zip(frames, (11, 5, 3))]

    def fused():
        nfs = [normalize_layer_df(df, spec, zoom_range=(0, ZMAX), n_vals=2)
               for spec, df in capped]
        u = nfs[0]
        for nf in nfs[1:]:
            u = u.unionByName(nf)
        return _tiles_dict(assemble_normalized(
            u, [s for s, _ in capped], None))

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "20000")
        want = fused()
        spark.conf.set(key, "41")
        got = fused()
        assert got == want
        assert got == _oracle(capped, None)
        assert (0, 0, 0) in got
        # caps bind: decode z0 and check per-layer feature counts
        from sparktiles.functions.mvtcodec import decode_tile

        dec = decode_tile(got[(0, 0, 0)][0])
        assert len(dec["place"]["features"]) == 11
        assert len(dec["transportation"]["features"]) == 5
        assert len(dec["boundary"]["features"]) == 3
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
