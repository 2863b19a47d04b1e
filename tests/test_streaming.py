"""Structured Streaming surface tests (memory sink + availableNow)."""

import pytest
from pyspark.sql import functions as F

from sparktiles.sources.pages import generate_pages
from sparktiles.streaming.jobs import (
    streaming_lang_totals,
    streaming_page_stats,
    streaming_retile,
)


@pytest.fixture(scope="module")
def page_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("pages")
    generate_pages(spark, 500).write.mode("overwrite").parquet(str(d / "p"))
    return str(d / "p")


def test_streaming_page_stats(spark, page_dir):
    agg = streaming_page_stats(spark, page_dir, window="24 hours")
    q = (agg.writeStream.outputMode("complete").format("memory")
         .queryName("pstats").trigger(availableNow=True).start())
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM pstats")
    total = out.agg(F.sum("n_pages")).first()[0]
    assert total == 500
    langs = {r.lang for r in out.select("lang").distinct().collect()}
    assert "en" in langs and len(langs) >= 4


def test_streaming_retile(spark, page_dir, tmp_path):
    store = str(tmp_path / "stream_store")
    q = streaming_retile(spark, page_dir, store, maxzoom=6).start()
    q.awaitTermination(180)
    out = spark.read.parquet(f"{store}/expired_tiles")
    # every mention landed in exactly one z6 tile group
    n = out.agg(F.sum("n_features")).first()[0]
    from sparktiles.sources.geoparse import build_features
    exp = build_features(spark.read.parquet(page_dir)).count()
    assert n == exp
    assert out.where(F.col("z") != 6).count() == 0


def test_incremental_retile_available_now_e2e(spark, tmp_path):
    """§2.10 at integration level: a second corpus snapshot arrives
    through Structured Streaming (Trigger.AvailableNow); foreachBatch
    runs the full diff -> buffered invalidation -> regenerate -> MERGE
    path. Asserts (a) the regenerated tile set covers exactly the
    invalidation list, and (b) the merged tile_map is IDENTICAL to a
    from-scratch rebuild of snapshot 2 — adds, updates, removals and
    buffered edge neighbors all land."""
    import hashlib

    from sparktiles.operators.mvt import LayerSpec, encode_and_assemble_single
    from sparktiles.operators.pyramid import assign_point_tiles_multi, tile_pyramid
    from sparktiles.plans.pipeline import empty_tile_blob
    from sparktiles.sources.geoparse import build_features
    from sparktiles.streaming.incremental import run_incremental_retile

    MAXZ, BUF = 3, 8.0
    spec = LayerSpec(layer_id="place", index=0,
                     attr_fields={"name": "string"}, buffer_px=int(BUF))
    empty_id = hashlib.md5(empty_tile_blob(None)).hexdigest()

    def as_map(tiles):
        return tiles.select(
            F.col("z").alias("zoom_level"),
            F.col("x").alias("tile_column"),
            F.col("y").alias("tile_row"), "tile_id")

    def full_map(pages_df):
        feats = build_features(pages_df)
        assigned = assign_point_tiles_multi(feats, 0, MAXZ, buffer_px=BUF)
        tiles = encode_and_assemble_single(assigned, spec, None)
        uni = tile_pyramid(spark, 0, MAXZ)
        empties = uni.join(tiles.select("z", "x", "y"), ["z", "x", "y"],
                           "left_anti").select(
            F.col("z").alias("zoom_level"), F.col("x").alias("tile_column"),
            F.col("y").alias("tile_row"), F.lit(empty_id).alias("tile_id"))
        return as_map(tiles).unionByName(empties)

    p1 = generate_pages(spark, 300, seed=1).cache()
    # snapshot 2: ~1/15 urls removed, ~1/15 updated (extra mention
    # appended -> new feature + text hash change), 25 new urls added
    h = F.pmod(F.xxhash64("url"), F.lit(15))
    kept = p1.where(h != 0)
    upd = F.when(h == 1, F.concat(
        F.col("text"), F.lit(" Name_77 (12.34567; 45.67891)"))
    ).otherwise(F.col("text"))
    p2_core = kept.withColumn("text", upd).withColumn(
        "html", F.encode(F.col("text"), "utf-8"))
    added = generate_pages(spark, 25, seed=9).withColumn(
        "url", F.concat(F.col("url"), F.lit("?v2")))
    p2 = p2_core.unionByName(added).cache()

    p2_dir = str(tmp_path / "snapshot2")
    p2.write.mode("overwrite").parquet(p2_dir)
    old_map = full_map(p1).cache()
    old_map.count()

    captured = {}

    def regenerate(inv):
        feats2 = build_features(p2)
        assigned = assign_point_tiles_multi(feats2, 0, MAXZ, buffer_px=BUF) \
            .join(inv, ["z", "x", "y"], "left_semi")
        tiles = encode_and_assemble_single(assigned, spec, None)
        gen_empties = inv.join(tiles.select("z", "x", "y"),
                               ["z", "x", "y"], "left_anti").select(
            F.col("z").alias("zoom_level"), F.col("x").alias("tile_column"),
            F.col("y").alias("tile_row"), F.lit(empty_id).alias("tile_id"))
        fresh = as_map(tiles).unionByName(gen_empties)
        captured["inv"] = {(r.z, r.x, r.y) for r in inv.collect()}
        captured["fresh"] = {
            (r.zoom_level, r.tile_column, r.tile_row) for r in fresh.collect()}
        return fresh

    out_dir = str(tmp_path / "merged_map")

    def process(batch_df, epoch_id):
        merged = run_incremental_retile(
            spark, p1, batch_df, build_features, old_map, 0, MAXZ,
            regenerate, buffer_px=BUF)
        merged.write.mode("overwrite").parquet(out_dir)

    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    q = (spark.readStream.schema(schema).parquet(p2_dir)
         .writeStream.foreachBatch(process)
         .trigger(availableNow=True).start())
    q.awaitTermination(300)

    # (a) regenerated set covers the invalidation list exactly
    assert captured["fresh"] == captured["inv"]
    assert len(captured["inv"]) > 0

    def rows(df):
        return sorted(
            (r.zoom_level, r.tile_column, r.tile_row, r.tile_id)
            for r in df.collect())

    merged = spark.read.parquet(out_dir)
    want = full_map(p2)
    assert rows(merged) == rows(want)
    # the diff actually bit: some tiles changed between snapshots
    changed = set(rows(merged)) ^ set(rows(old_map))
    assert changed, "snapshots produced identical maps — test is vacuous"


def test_streaming_stateful_lang_totals(spark, page_dir):
    q = (streaming_lang_totals(spark, page_dir)
         .writeStream.outputMode("update").format("memory")
         .queryName("ltotals").trigger(availableNow=True).start())
    q.awaitTermination(120)
    out = spark.sql(
        "SELECT lang, MAX(total_pages) AS total FROM ltotals GROUP BY lang")
    total = out.agg(F.sum("total")).first()[0]
    assert total == 500


def test_incremental_retile_wkb_merged_equals_full(spark):
    """run_incremental_retile's WKB dispatch (geom-bearing feature
    frames route through supercover assignment): merged map ==
    from-scratch rebuild when the changed features are LineStrings."""
    import hashlib

    import numpy as np

    from sparktiles.functions import geom as G
    from sparktiles.operators.mvt import LayerSpec, encode_and_assemble_single
    from sparktiles.operators.pyramid import (
        assign_supercover_tiles_multi,
        tile_pyramid,
    )
    from sparktiles.plans.pipeline import empty_tile_blob
    from sparktiles.streaming.incremental import run_incremental_retile

    MAXZ, BUF = 3, 4.0
    HALF = 20037508.34278925
    spec = LayerSpec(layer_id="roads", index=0,
                     attr_fields={"name": "string"}, key_field="feature_id",
                     buffer_px=int(BUF), geometry_kind="wkb")
    empty_id = hashlib.md5(empty_tile_blob(None)).hexdigest()

    def pages_df(urls_texts):
        return spark.createDataFrame(
            [(u, None, bytearray(t.encode()), t, "en") for u, t in urls_texts],
            "url string, warc_ts timestamp, html binary, text string, lang string")

    def line_features(pages):
        """WKB feature frame derived deterministically from (url, text):
        text change => geometry change (the diff invariant)."""
        rows = pages.select(
            "url", F.xxhash64("url").alias("feature_id"),
            F.xxhash64("url", "text").alias("h")).collect()
        out = []
        for r in rows:
            rng = np.random.default_rng(abs(int(r.h)) % (2**32))
            start = rng.uniform(-HALF * 0.7, HALF * 0.7, size=2)
            end = start + rng.uniform(-HALF / 3, HALF / 3, size=2)
            wkb = G.wkb_dumps(("LineString", np.vstack([start, end])), srid=3857)
            out.append((int(r.feature_id), bytearray(wkb), f"N_{r.url}"))
        return spark.createDataFrame(
            out, "feature_id long, geom binary, name string")

    def as_map(tiles):
        return tiles.select(
            F.col("z").alias("zoom_level"),
            F.col("x").alias("tile_column"),
            F.col("y").alias("tile_row"), "tile_id")

    def full_map(pages):
        assigned = assign_supercover_tiles_multi(
            line_features(pages), 0, MAXZ, buffer_px=BUF)
        tiles = encode_and_assemble_single(assigned, spec, None)
        uni = tile_pyramid(spark, 0, MAXZ)
        empties = uni.join(tiles.select("z", "x", "y"), ["z", "x", "y"],
                           "left_anti").select(
            F.col("z").alias("zoom_level"), F.col("x").alias("tile_column"),
            F.col("y").alias("tile_row"), F.lit(empty_id).alias("tile_id"))
        return as_map(tiles).unionByName(empties)

    p1 = pages_df([(f"u{i}", f"t{i}") for i in range(40)])
    # snapshot 2: drop u0-u4, update u5-u9 (text change -> new line),
    # add 5 new urls
    p2 = pages_df(
        [(f"u{i}", f"t{i}x") for i in range(5, 10)]
        + [(f"u{i}", f"t{i}") for i in range(10, 40)]
        + [(f"w{i}", f"s{i}") for i in range(5)])

    old_map = full_map(p1).cache()
    old_map.count()

    def regenerate(inv):
        assigned = assign_supercover_tiles_multi(
            line_features(p2), 0, MAXZ, buffer_px=BUF)
        assigned = assigned.join(inv, ["z", "x", "y"], "left_semi")
        tiles = encode_and_assemble_single(assigned, spec, None)
        gen = as_map(tiles)
        empties = inv.join(tiles.select("z", "x", "y"), ["z", "x", "y"],
                           "left_anti").select(
            F.col("z").alias("zoom_level"), F.col("x").alias("tile_column"),
            F.col("y").alias("tile_row"), F.lit(empty_id).alias("tile_id"))
        return gen.unionByName(empties)

    merged = run_incremental_retile(
        spark, p1, p2, line_features, old_map, 0, MAXZ,
        regenerate, buffer_px=BUF)

    def rows(df):
        return sorted(
            (r.zoom_level, r.tile_column, r.tile_row, r.tile_id)
            for r in df.collect())

    want = full_map(p2)
    assert rows(merged) == rows(want)
    assert set(rows(merged)) ^ set(rows(old_map)), "diff produced no change"


def test_streaming_dedup(spark, page_dir, tmp_path):
    """Ingest stream with duplicated pages: exactly one survivor per
    distinct content hash; survivors cover all distinct texts."""
    from sparktiles.streaming.jobs import streaming_dedup

    base = spark.read.parquet(page_dir)
    dup_dir = str(tmp_path / "dup_pages")
    base.unionByName(base.limit(100)).write.mode("overwrite").parquet(dup_dir)

    out = streaming_dedup(spark, dup_dir)
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("sdedup").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT content_hash FROM sdedup")
    n_distinct = base.select(F.md5("text")).distinct().count()
    assert got.count() == n_distinct
    assert got.distinct().count() == n_distinct


def test_streaming_bloom_dedup(spark, page_dir, tmp_path):
    """Re-crawl stream vs a standing corpus: every standing duplicate
    is dropped (zero false negatives), every genuinely-new page
    survives (the exact rescue join removes Bloom false positives —
    m_bits is deliberately tiny so FPs actually occur)."""
    from sparktiles.streaming.jobs import streaming_bloom_dedup

    standing = spark.read.parquet(page_dir)
    new = (standing.limit(100)
           .withColumn("text", F.concat(F.lit("NEW "), F.col("text")))
           .withColumn("url", F.concat(F.lit("http://new/"), F.col("url"))))
    crawl_dir = str(tmp_path / "recrawl")
    standing.unionByName(new).write.mode("overwrite").parquet(crawl_dir)

    out = streaming_bloom_dedup(spark, crawl_dir, standing,
                                m_bits=4096, k=2)
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("sbloom").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT url, text FROM sbloom")
    assert got.count() == 100
    assert got.where(~F.col("text").startswith("NEW ")).count() == 0


@pytest.mark.xfail(strict=True, reason=(
    "known re-tile gap (ROADMAP direction 1): the merge replaces only the "
    "invalidated tiles, while dup sets are global per zoom"))
def test_incremental_retile_dup_threshold_crossing(spark, tmp_path):
    """21 z3 tiles share one tile_id (a dup root at mid 3); the
    changefeed removes 2 of their points, so the other 19 fall below
    the threshold of 20 and a rebuild generates their z4/z5 subtrees.
    run_incremental_retile regenerates only the invalidated tiles, so
    the untouched subtrees keep the imputed root id and the merged map
    differs from build_fast on snapshot 2."""
    import hashlib

    from build_oracle import (DUP_SPEC, DUP_ZOOM, identical_point_features,
                              identical_point_pages)

    from sparktiles.operators.mvt import encode_and_assemble_single
    from sparktiles.operators.pyramid import assign_point_tiles_multi
    from sparktiles.plans.pipeline import (BuildConfig, TileBuild,
                                           empty_tile_blob)
    from sparktiles.streaming.incremental import run_incremental_retile

    MAXZ = 5
    empty_id = hashlib.md5(empty_tile_blob(None)).hexdigest()
    p1 = identical_point_pages(spark, [f"u{i}" for i in range(21)])
    p2 = identical_point_pages(spark, [f"u{i}" for i in range(2, 21)])

    def build(pages, name):
        b = TileBuild(spark, [(DUP_SPEC, identical_point_features(pages))],
                      BuildConfig(store_dir=str(tmp_path / name), minzoom=0,
                                  maxzoom=MAXZ, mid_zoom=DUP_ZOOM))
        b.build_fast()
        return b.read_tile_map()

    def as_map(tiles):
        return tiles.select(
            F.col("z").alias("zoom_level"), F.col("x").alias("tile_column"),
            F.col("y").alias("tile_row"), "tile_id")

    def regenerate(inv):
        assigned = assign_point_tiles_multi(
            identical_point_features(p2), 0, MAXZ,
            buffer_px=DUP_SPEC.buffer_px).join(inv, ["z", "x", "y"],
                                               "left_semi")
        tiles = encode_and_assemble_single(assigned, DUP_SPEC, None)
        empties = inv.join(tiles.select("z", "x", "y"), ["z", "x", "y"],
                           "left_anti").withColumn("tile_id",
                                                   F.lit(empty_id))
        return as_map(tiles).unionByName(as_map(empties))

    merged = run_incremental_retile(
        spark, p1, p2, identical_point_features, build(p1, "s1"), 0, MAXZ,
        regenerate, buffer_px=DUP_SPEC.buffer_px)

    def rows(df):
        return sorted(tuple(r) for r in df.select(
            "zoom_level", "tile_column", "tile_row", "tile_id").collect())

    assert rows(merged) == rows(build(p2, "s2"))
