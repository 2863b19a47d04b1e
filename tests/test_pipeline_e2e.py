"""End-to-end: synthetic pages -> geoparse -> tile pyramid -> MVT store.

Oracle = independent pure-Python loop (FIXTURES.md §8): regex-parses the
same page text, assigns tiles with plain math, and the engine's
per-tile feature counts / tile assignments must match exactly
(north_rule: 'matching the reference's join output rows and tile
assignments'). Also checks the impute-vs-direct pyramid equivalence
(SURVEY §5 test plan (e)) and the byte-identical-text invariant.
"""

import hashlib
import json
import math
import re
import shutil
from collections import Counter
from pathlib import Path

import pytest
from build_oracle import assert_matches_oracle, store_contents
from pyspark.sql import functions as F

from sparktiles.functions import mvtcodec as C
from sparktiles.plans.config import FieldDef, LayerDef, TilesetDef
from sparktiles.plans.pipeline import (
    BuildConfig,
    TileBuild,
    empty_tile_blob,
    make_point_layer_frames,
)
from sparktiles.sources.geoparse import build_features
from sparktiles.sources.pages import generate_pages

N_PAGES = 1000
MAXZOOM = 5
MENTION_RE = re.compile(r"Name_(\d+) \((-?\d+\.\d{5}); (-?\d+\.\d{5})\)")
HALF = 20037508.34278925
WORLD = 40075016.6855785


def merc(lon, lat):
    x = lon / 180.0 * HALF
    y = math.log(math.tan((90.0 + lat) * math.pi / 360.0)) / math.pi * HALF
    return x, y


def oracle_tiles(text_rows, zoom, buffer_px):
    """Pure-python tile assignment incl. buffer ring."""
    counts = Counter()
    n = 2**zoom
    bf = buffer_px / 256.0
    for text in text_rows:
        for m in MENTION_RE.finditer(text):
            lat, lon = float(m.group(2)), float(m.group(3))
            x, y = merc(lon, lat)
            fx = (x + HALF) / WORLD * n
            fy = (HALF - y) / WORLD * n
            tx, ty = int(fx), int(fy)
            cands = {(tx, ty)}
            if fx - tx < bf and tx > 0:
                cands.add((tx - 1, ty))
            if tx + 1 - fx < bf and tx < n - 1:
                cands.add((tx + 1, ty))
            if fy - ty < bf and ty > 0:
                cands.add((tx, ty - 1))
            if ty + 1 - fy < bf and ty < n - 1:
                cands.add((tx, ty + 1))
            # corners
            if fx - tx < bf and fy - ty < bf and tx > 0 and ty > 0:
                cands.add((tx - 1, ty - 1))
            if tx + 1 - fx < bf and fy - ty < bf and tx < n - 1 and ty > 0:
                cands.add((tx + 1, ty - 1))
            if fx - tx < bf and ty + 1 - fy < bf and tx > 0 and ty < n - 1:
                cands.add((tx - 1, ty + 1))
            if tx + 1 - fx < bf and ty + 1 - fy < bf and tx < n - 1 and ty < n - 1:
                cands.add((tx + 1, ty + 1))
            for c in cands:
                counts[c] += 1
    return counts


@pytest.fixture(scope="module")
def pages(spark):
    return generate_pages(spark, N_PAGES).cache()


@pytest.fixture(scope="module")
def tileset():
    return TilesetDef(
        name="testtiles",
        layers=[
            LayerDef(
                id="place",
                fields=[
                    FieldDef("name"),
                    FieldDef("class", values={
                        "city": {"class_src": ["city"]},
                        "town": {"class_src": ["town", "vill%"]},
                        "edu": {"class_src": ["university"]},
                    }),
                ],
                buffer_size=8,
            ),
        ],
        minzoom=0,
        maxzoom=MAXZOOM,
        languages=["en", "de"],
    )


def test_text_byte_identical_per_url(spark, pages):
    """input_hint invariant: regenerating the corpus and passing it
    through geoparse leaves text byte-identical per url."""
    h1 = pages.select("url", F.sha2(F.col("text"), 256).alias("h")).collect()
    again = generate_pages(spark, N_PAGES)
    h2 = dict(again.select("url", F.sha2(F.col("text"), 256).alias("h")).collect())
    assert len(h1) == N_PAGES
    for url, h in h1:
        assert h2[url] == h
    # html embeds the same bytes
    r = pages.select(
        (F.decode("html", "utf-8") == F.format_string("<html><body>%s</body></html>", "text"))
        .alias("ok")
    ).agg(F.min("ok")).first()[0]
    assert r is True


def test_feature_extraction_matches_oracle(spark, pages):
    from sparktiles.sources.geoparse import extract_mentions

    feats = build_features(pages)
    texts = [r.text for r in pages.select("text").collect()]
    exp_total = sum(len(MENTION_RE.findall(t)) for t in texts)
    assert feats.count() == exp_total
    # feature ids unique per (url, mention)
    assert feats.select("feature_id").distinct().count() == exp_total
    # mention_idx is dense per url starting at 0
    mx = extract_mentions(pages).groupBy("url").agg(
        F.min("mention_idx").alias("mn"), F.max("mention_idx").alias("mx"),
        F.count("*").alias("c"))
    assert mx.where((F.col("mn") != 0) | (F.col("mx") != F.col("c") - 1)).count() == 0


def test_tile_assignment_matches_oracle(spark, pages, tileset, tmp_path):
    feats = build_features(pages).cache()
    texts = [r.text for r in pages.select("text").collect()]
    layer_frames = make_point_layer_frames(feats, tileset)
    spec, frame = layer_frames[0]
    assert spec.buffer_px == 8

    from sparktiles.operators.pyramid import assign_point_tiles

    for zoom in (2, MAXZOOM):
        got = (
            assign_point_tiles(frame, zoom, buffer_px=spec.buffer_px)
            .groupBy("x", "y").count().collect()
        )
        got = {(r.x, r.y): r["count"] for r in got}
        exp = oracle_tiles(texts, zoom, 8)
        assert got == dict(exp), f"zoom {zoom}"


def test_full_build_and_decode(spark, pages, tileset, tmp_path):
    feats = build_features(pages).cache()
    frames = make_point_layer_frames(feats, tileset)
    cfg = BuildConfig(
        store_dir=str(tmp_path / "store"), minzoom=0, maxzoom=MAXZOOM,
        mid_zoom=2, gzip_level=None,
    )
    build = TileBuild(spark, frames, cfg)
    summary = build.build_fast()
    assert summary["tiles"] > 0

    # tile_map covers the full pyramid at every zoom
    tm = build.read_tile_map()
    per_zoom = {r.zoom_level: r["cnt"] for r in
                tm.groupBy("zoom_level").agg(F.count("*").alias("cnt")).collect()}
    for z in range(0, MAXZOOM + 1):
        assert per_zoom[z] == 4**z, f"zoom {z} pyramid incomplete"

    # every tile_id has an image; md5 matches blob
    imgs = build.read_tile_images()
    missing = tm.join(imgs, "tile_id", "left_anti").count()
    assert missing == 0
    chk = imgs.select(
        (F.md5(F.col("tile_data")) == F.col("tile_id")).alias("ok")
    ).agg(F.min("ok")).first()[0]
    assert chk is True

    # decode the busiest z-MAXZOOM tile and compare features to oracle
    texts = [r.text for r in pages.select("text").collect()]
    exp = oracle_tiles(texts, MAXZOOM, 8)
    (bx, by), bcount = exp.most_common(1)[0]
    row = (
        tm.where((F.col("zoom_level") == MAXZOOM)
                 & (F.col("tile_column") == bx) & (F.col("tile_row") == by))
        .join(imgs, "tile_id").first()
    )
    tile = C.decode_tile(bytes(row.tile_data))
    assert "place" in tile
    feats_in_tile = tile["place"]["features"]
    assert len(feats_in_tile) == bcount
    # attrs carry the enum mapping and localized names
    attrs = feats_in_tile[0]["attrs"]
    assert "name" in attrs
    assert set(a["attrs"].get("class") for a in feats_in_tile) <= {
        "city", "town", "edu", None}


def test_impute_equals_direct(spark, pages, tileset, tmp_path):
    """Pyramid built with MID_ZOOM imputation == pyramid built directly
    (SURVEY §5(e)), on the (z,x,y,tile_id) set."""
    feats = build_features(pages).cache()
    frames = make_point_layer_frames(feats, tileset)
    b1 = TileBuild(spark, frames, BuildConfig(
        store_dir=str(tmp_path / "imputed"), minzoom=0, maxzoom=4, mid_zoom=1))
    b2 = TileBuild(spark, frames, BuildConfig(
        store_dir=str(tmp_path / "direct"), minzoom=0, maxzoom=4, mid_zoom=4))
    b1.build_fast()
    b2.build_fast()
    m1 = b1.read_tile_map()
    m2 = b2.read_tile_map()
    assert m1.count() == m2.count()
    assert m1.exceptAll(m2).count() == 0


def test_fast_build_equals_loop_build(spark, pages, tileset, tmp_path):
    """build_fast (one-shot blob generation + one-pass impute walk)
    must produce the identical tile_map AND identical image bytes as
    the reference walk over per-zoom generation (build_oracle)."""
    feats = build_features(pages).cache()
    frames = make_point_layer_frames(feats, tileset)
    fast = TileBuild(spark, frames, BuildConfig(
        store_dir=str(tmp_path / "fast"), minzoom=0, maxzoom=4, mid_zoom=2))
    fast.build_fast()
    assert_matches_oracle(fast)


def test_single_zoom_build(spark, pages, tileset, tmp_path):
    # minzoom == maxzoom == mid_zoom: degenerate pyramid, no impute walk
    from sparktiles.sources.geoparse import build_features

    feats = build_features(pages)
    b = TileBuild(spark, make_point_layer_frames(feats, tileset), BuildConfig(
        store_dir=str(tmp_path / "z3"), minzoom=3, maxzoom=3, mid_zoom=3))
    summary = b.build_fast()
    assert summary["tiles"] == 64
    tm = b.read_tile_map()
    assert tm.count() == 64
    assert {r.zoom_level for r in tm.select("zoom_level").distinct().collect()} == {3}


def test_fast_build_equals_loop_build_wkb(spark, tmp_path):
    """Oracle-vs-fast equivalence for a WKB line layer: the reference
    walk over per-zoom generation (supercover assignment at each single
    zoom) must give the identical tile_map and image bytes as the
    one-shot build — the line/polygon twin of the point-layer test
    above."""
    from sparktiles.operators.mvt import LayerSpec
    from sparktiles.sources.lines import generate_lines

    lines = generate_lines(spark, n=48).withColumnRenamed(
        "line_id", "feature_id").cache()
    spec = LayerSpec(layer_id="transportation", index=0,
                     attr_fields={"class": "string", "name": "string"},
                     key_field="feature_id", buffer_px=4,
                     geometry_kind="wkb")
    fast = TileBuild(spark, [(spec, lines)], BuildConfig(
        store_dir=str(tmp_path / "wfast"), minzoom=0, maxzoom=3, mid_zoom=1))
    fast.build_fast()
    assert_matches_oracle(fast)


def _keep_phase1(store):
    """What a crash right after phase 1 leaves: tiles_all only."""
    for p in Path(store).iterdir():
        if p.name != "tiles_all":
            shutil.rmtree(p) if p.is_dir() else p.unlink()


def test_fast_build_equals_loop_build_tiny_bounds(spark, pages, tileset, tmp_path):
    """A one-tile universe at mid: the empty id is NOT a dup there, and
    tiles_all holds rows outside the bounds (in the map at z <= mid,
    not below). build_fast == the reference walk."""
    feats = build_features(pages).cache()
    frames = make_point_layer_frames(feats, tileset)
    cfg = dict(minzoom=0, maxzoom=4, mid_zoom=2, bounds_lonlat=(5.0, 45.0, 6.0, 46.0))
    fast = TileBuild(spark, frames, BuildConfig(store_dir=str(tmp_path / "f"), **cfg))
    fast.build_fast()
    empty_id = hashlib.md5(empty_tile_blob(None)).hexdigest()
    assert fast.read_tile_map(2).where(F.col("tile_id") == empty_id).count() < 20
    assert_matches_oracle(fast)


def test_fast_phase2_job_count_fixed(spark, pages, tileset, tmp_path):
    """Phase 2 issues the same, small number of Spark jobs whatever
    maxzoom is (the per-zoom walk issued 7 more per zoom)."""
    feats = build_features(pages).cache()
    frames = make_point_layer_frames(feats, tileset)
    sc = spark.sparkContext
    jobs = {}
    for mz in (4, 6):
        cfg = BuildConfig(store_dir=str(tmp_path / f"j{mz}"), minzoom=0,
                          maxzoom=mz, mid_zoom=2)
        TileBuild(spark, frames, cfg).build_fast()
        _keep_phase1(cfg.store_dir)
        group = f"phase2-jobs-{mz}-{id(tmp_path)}"
        sc.setJobGroup(group, "build_fast phase 2 only")
        try:
            summary = TileBuild(spark, frames, cfg).build_fast()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert summary["tiles"] == sum(4**z for z in range(mz + 1))
        jobs[mz] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs[4] == jobs[6] <= 12, jobs


def test_fast_build_repeat_compiles_nothing(spark, pages, tileset, tmp_path):
    """A second identical build in the same session reuses every class
    the first one generated (metrics.json records the count)."""
    frames = make_point_layer_frames(build_features(pages), tileset)
    summaries = []
    for name in ("a", "b"):
        cfg = BuildConfig(store_dir=str(tmp_path / name), minzoom=0,
                          maxzoom=4, mid_zoom=2)
        summaries.append(TileBuild(spark, frames, cfg).build_fast())
    first, second = summaries
    assert second["codegen_compiles"] == 0, first["codegen_compiles"]
    recorded = json.loads((tmp_path / "b" / "metrics.json").read_text())
    assert recorded["codegen_compiles"] == 0


def test_fast_build_resume_after_phase1(spark, pages, tileset, tmp_path):
    """A crash anywhere in phase 2 (tile_map and the manifest lost)
    resumes from tiles_all to the identical store; a finished store is
    not rebuilt."""
    feats = build_features(pages).cache()
    frames = make_point_layer_frames(feats, tileset)
    cfg = BuildConfig(store_dir=str(tmp_path / "r"), minzoom=0, maxzoom=4,
                      mid_zoom=2, gzip_level=6)
    first = TileBuild(spark, frames, cfg)
    s1 = first.build_fast()
    before = store_contents(first)
    shutil.rmtree(Path(cfg.store_dir) / "tile_map")
    (Path(cfg.store_dir) / "_manifest.json").unlink()
    again = TileBuild(spark, frames, cfg)
    s2 = again.build_fast()
    assert store_contents(again) == before
    assert s2["zooms"] == s1["zooms"]
    assert [z["n_imputed"] + z["n_generated"] for z in s2["zooms"]] == [
        4**z for z in range(5)]
    assert s2["phase1_wall_s"] < s1["phase1_wall_s"]  # phase 1 not redone
    assert TileBuild(spark, frames, cfg).build_fast() == s2


def test_fast_build_config_fingerprint(spark, pages, tileset, tmp_path):
    """The manifest records the config fingerprint: another config on
    the same store raises; a store whose tiles_all has no recorded
    fingerprint (written by another writer) is resumed."""
    feats = build_features(pages).cache()
    frames = make_point_layer_frames(feats, tileset)
    store = tmp_path / "fp"
    cfg = BuildConfig(store_dir=str(store), minzoom=0, maxzoom=3, mid_zoom=1)
    TileBuild(spark, frames, cfg).build_fast()
    specs = [s for s, _ in frames]
    recorded = json.loads((store / "_manifest.json").read_text())["fingerprint"]
    assert recorded == cfg.fingerprint(specs)
    for other in (dict(gzip_level=6), dict(maxzoom=4), dict(mid_zoom=2),
                  dict(bounds_lonlat=(0.0, 0.0, 10.0, 10.0))):
        kw = {**dict(store_dir=str(store), minzoom=0, maxzoom=3, mid_zoom=1), **other}
        with pytest.raises(ValueError, match="another config"):
            TileBuild(spark, frames, BuildConfig(**kw)).build_fast()
    _keep_phase1(store)
    s = TileBuild(spark, frames, cfg).build_fast()
    assert s["tiles"] == sum(4**z for z in range(4))

    # a post_assign hook is hashed by qualified name, not by repr
    import dataclasses

    def make_hook():
        def hook(df):
            return df
        return hook

    def other_hook(df):
        return df

    fp = [cfg.fingerprint([dataclasses.replace(specs[0], post_assign=h)])
          for h in (make_hook(), make_hook(), other_hook)]
    assert fp[0] == fp[1] != fp[2]


def _check_lineage_files(b, empty_id):
    """Every map file has one lineage row, and its counts and extents
    are those of the file's rows."""
    import pyarrow.parquet as pq
    from urllib.parse import unquote, urlparse

    def path(uri):
        return unquote(urlparse(uri).path)

    lin = b.read_lineage().collect()
    files = sorted(str(p.resolve()) for p in Path(b._map_root()).glob("zoom_level=*/part-*"))
    assert sorted(path(r.partition_file) for r in lin) == files
    for r in lin:
        t = pq.read_table(path(r.partition_file)).to_pydict()
        ids = t["tile_id"]
        assert (r.n_rows, r.n_nonempty, r.n_distinct_ids) == (
            len(ids), sum(i != empty_id for i in ids), len(set(ids)))
        assert (r.min_x, r.max_x, r.min_y, r.max_y) == (
            min(t["tile_column"]), max(t["tile_column"]),
            min(t["tile_row"]), max(t["tile_row"]))


def test_fast_build_many_tasks_and_lineage(spark, pages, tileset, tmp_path,
                                           monkeypatch):
    """A map too large for one task is written by one task per few
    mid-zoom subtrees (here forced by a tiny rows-per-task budget):
    same map and images as the reference walk, one lineage row per
    file, and the per-file lineage stays exact when
    spark.sql.files.maxRecordsPerFile splits a task's output (the rows
    are then read back)."""
    import sparktiles.plans.pipeline as pl

    feats = build_features(pages).cache()
    frames = make_point_layer_frames(feats, tileset)
    cfg = dict(minzoom=0, maxzoom=5, mid_zoom=2)
    fast = TileBuild(spark, frames, BuildConfig(store_dir=str(tmp_path / "f"), **cfg))
    assert fast._walk_partitions(2) is None  # 1,360 rows: AQE decides
    deep = TileBuild(spark, frames, BuildConfig(
        store_dir=str(tmp_path / "d"), minzoom=0, maxzoom=14, mid_zoom=8))
    assert deep._walk_partitions(8) == 179  # 65,536 x 5,461 rows / 2M
    monkeypatch.setattr(pl, "MAP_ROWS_PER_TASK", 50)
    assert fast._walk_partitions(2) == 16  # capped at one per mid subtree
    fast.build_fast()
    rows, imgs = assert_matches_oracle(fast)
    assert set(imgs) == {r[3] for r in rows}
    empty_id = hashlib.md5(empty_tile_blob(None)).hexdigest()
    assert len(list(Path(fast._map_path(5)).glob("part-*"))) > 1
    _check_lineage_files(fast, empty_id)

    split = TileBuild(spark, frames, BuildConfig(store_dir=str(tmp_path / "m"), **cfg))
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "100")
    try:
        split.build_fast()
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    assert store_contents(split)[0] == rows
    _check_lineage_files(split, empty_id)


def test_fast_build_dup_root_exactly_at_threshold(spark, tmp_path):
    """The walk's dup decision at its edge: one tile_id appears exactly
    20 times at z3 (= mid, threshold 20), and generating its children
    would give other ids. The 20 roots must impute their whole z4/z5
    subtrees; a walk with the threshold doubled, or one that never
    imputes, generates them instead."""
    from build_oracle import (DUP_SPEC, DUP_ZOOM, identical_point_features,
                              identical_point_pages)

    n = 20  # the reference's dup threshold below z13 (mbtile_tools.py)
    urls = [f"u{i}" for i in range(0, 2 * n, 2)]
    feats = identical_point_features(identical_point_pages(spark, urls))
    b = TileBuild(spark, [(DUP_SPEC, feats)], BuildConfig(
        store_dir=str(tmp_path / "s"), minzoom=0, maxzoom=5,
        mid_zoom=DUP_ZOOM))
    b.build_fast()
    rows, _ = assert_matches_oracle(b)
    by_zoom = {}
    for z, x, y, t in rows:
        by_zoom.setdefault(z, {})[(x, y)] = t
    roots = {(i % 8, i // 8) for i in range(0, 2 * n, 2)}
    root_ids = {by_zoom[DUP_ZOOM][p] for p in roots}
    assert len(root_ids) == 1
    (root_id,) = root_ids
    assert Counter(by_zoom[DUP_ZOOM].values())[root_id] == n
    # every descendant of a root carries the root's id ...
    for z in (4, 5):
        s = 2 ** (z - DUP_ZOOM)
        got = {by_zoom[z][(x * s + dx, y * s + dy)]
               for x, y in roots for dx in range(s) for dy in range(s)}
        assert got == {root_id}, z
    # ... where direct generation gives children that differ from it
    gen = {(r.x, r.y): r.tile_id
           for r in b._build_tiles((4, 4)).select("x", "y", "tile_id").collect()}
    assert gen and root_id not in gen.values()
    assert {(x // 2, y // 2) for x, y in gen} == roots
