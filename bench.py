"""Benchmark harness — prints ONE JSON line with per-query seconds.

Headline metrics (BASELINE.json): tiles/sec over a z0-z8 pyramid build
from a geoparsed page corpus (gzip'd blobs — the reference's default
framing, sqltomvt.py:115-125), spatial-join rows/sec (feature->tile
assignment join across zooms), and a 3-layer point+line+polygon build
(the WKB encode path). Plus representative operator queries from the
__spark_entry__ suite.

Every timing is the MIN OF N_RUNS (default 3) runs — single runs on a
shared VM scatter 0.4-1.0x (BENCH_HW_CONTROL.json), so r{N}->r{N+1}
deltas on sub-second queries were noise before this.

env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS   (default 32),
     BENCH_MAXZOOM      (default 8),
     BENCH_RUNS         (default 3),
     BENCH_GZIP         (default 6; empty/none disables)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
MAXZOOM = int(os.environ.get("BENCH_MAXZOOM", "8"))
N_RUNS = int(os.environ.get("BENCH_RUNS", "3"))
_gz = os.environ.get("BENCH_GZIP", "6")
GZIP_LEVEL = None if _gz in ("", "none", "None") else int(_gz)


def derive_pages(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pid = (F.col("doc_id") * 7 + 1) % 10000
    lon = ((pid * 37).cast("double") % 344) - 172.0 + 0.1234567
    lat = ((pid * 13).cast("double") % 136) - 68.0 + 0.0891011
    pid2 = (F.col("doc_id") * 13 + 5) % 10000
    lon2 = ((pid2 * 37).cast("double") % 344) - 172.0 + 0.1234567
    lat2 = ((pid2 * 13).cast("double") % 136) - 68.0 + 0.0891011
    m1 = F.format_string("Name_%d (%.5f; %.5f)", pid, lat, lon)
    m2 = F.format_string("Name_%d (%.5f; %.5f)", pid2, lat2, lon2)
    text = F.concat(F.col("text"), F.lit(" "), m1, F.lit(" near "), m2)
    return docs.select(
        F.format_string("https://example.org/doc/%d", F.col("doc_id")).alias("url"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.encode(text, "utf-8").alias("html"),
        text.alias("text"),
        F.col("lang"),
    )


def min_of(fn, n=N_RUNS):
    """Best-of-n wall time for fn() (fn returns a payload; the payload
    of the fastest run is returned alongside)."""
    best, payload = None, None
    for _ in range(n):
        t0 = time.time()
        p = fn()
        dt = time.time() - t0
        if best is None or dt < best:
            best, payload = dt, p
    return best, payload


def main():
    from sparktiles.session import get_spark
    from sparktiles.sources.geoparse import build_features
    from sparktiles.sources.lines import generate_lines
    from sparktiles.sources.polygons import generate_polygons
    from sparktiles.operators.mvt import LayerSpec
    from sparktiles.operators.pyramid import assign_point_tiles_multi
    from sparktiles.plans.config import FieldDef, LayerDef, TilesetDef
    from sparktiles.plans.pipeline import BuildConfig, TileBuild, make_point_layer_frames
    import sparktiles.queries as Q

    spark = get_spark("sparktiles-bench", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    timings: dict[str, float] = {}
    extra: dict[str, float] = {}
    tmp_base = "/dev/shm" if os.path.isdir("/dev/shm") else None

    # ---- geoparse + feature build (cold each run; cache after timing)
    dt, n_feats = min_of(
        lambda: build_features(derive_pages(spark, SF_DIR)).count())
    timings["geoparse"] = round(dt, 3)
    feats = build_features(derive_pages(spark, SF_DIR)).cache()
    feats.count()

    # ---- spatial join: feature -> tile assignment across z0..MAXZOOM
    dt, join_rows = min_of(
        lambda: assign_point_tiles_multi(feats, 0, MAXZOOM, buffer_px=8).count())
    timings["spatial_join"] = round(dt, 3)
    extra["spatial_join_rows_per_s"] = round(join_rows / dt, 1)
    extra["spatial_join_rows"] = join_rows

    # ---- full tile pyramid build z0..MAXZOOM with impute (gzip'd
    # blobs: the reference default, so tiles/s is the deployed number)
    tileset = TilesetDef(
        name="bench",
        layers=[LayerDef(id="place", fields=[FieldDef("name")], buffer_size=8)],
        minzoom=0, maxzoom=MAXZOOM,
    )
    frames = make_point_layer_frames(feats, tileset)

    def build_pyramid():
        # tmpfs store: measure the engine, not one local NVMe a
        # cluster wouldn't share
        store = tempfile.mkdtemp(prefix="sparktiles_bench_", dir=tmp_base)
        try:
            b = TileBuild(spark, frames, BuildConfig(
                store_dir=store, minzoom=0, maxzoom=MAXZOOM,
                mid_zoom=min(5, MAXZOOM), gzip_level=GZIP_LEVEL))
            return b.build_fast()["tiles"]
        finally:
            shutil.rmtree(store, ignore_errors=True)

    dt, tiles = min_of(build_pyramid)
    timings["tile_pyramid"] = round(dt, 3)
    extra["tiles"] = tiles
    extra["tiles_per_s"] = round(tiles / dt, 1)
    extra["gzip_level"] = GZIP_LEVEL

    # ---- 3-layer point+line+polygon build: the WKB (vecmvt) encode
    # path + multi-layer assemble — the configuration every real
    # tileset uses (reference tests/testlayers/testmaptiles.yaml)
    lines = generate_lines(spark, n=4000).withColumnRenamed(
        "line_id", "feature_id").cache()
    polys = generate_polygons(spark, n_grid=24).withColumnRenamed(
        "poly_id", "feature_id").cache()
    lines.count(), polys.count()
    ml_frames = [
        (LayerSpec(layer_id="place", index=0, attr_fields={"name": "string"},
                   buffer_px=8), feats),
        (LayerSpec(layer_id="transportation", index=1,
                   attr_fields={"class": "string", "name": "string"},
                   buffer_px=4, geometry_kind="wkb"), lines),
        (LayerSpec(layer_id="boundary", index=2,
                   attr_fields={"admin_class": "string", "name": "string"},
                   buffer_px=4, geometry_kind="wkb"), polys),
    ]

    def build_multilayer():
        store = tempfile.mkdtemp(prefix="sparktiles_ml_", dir=tmp_base)
        try:
            b = TileBuild(spark, ml_frames, BuildConfig(
                store_dir=store, minzoom=0, maxzoom=MAXZOOM,
                mid_zoom=min(5, MAXZOOM), gzip_level=GZIP_LEVEL))
            return b.build_fast()["tiles"]
        finally:
            shutil.rmtree(store, ignore_errors=True)

    dt, ml_tiles = min_of(build_multilayer)
    timings["tile_pyramid_3layer"] = round(dt, 3)
    extra["tiles_3layer"] = ml_tiles
    extra["tiles_3layer_per_s"] = round(ml_tiles / dt, 1)

    # ---- capped 3-layer build: the PRODUCTION low-zoom shape — per-
    # layer density caps (the reference's bounded-label-density rule)
    # applied by the kernel-level per-(tile, layer) compaction inside
    # the single-exchange spine; bounds hot-tile encode and removes
    # the z0 serial tail the uncapped leg deliberately carries
    from dataclasses import replace as _dc_replace

    mlc_frames = [(_dc_replace(spec, max_features_per_tile=cap_n), df)
                  for (spec, df), cap_n in zip(ml_frames, (1024, 512, 256))]

    def build_multilayer_capped():
        store = tempfile.mkdtemp(prefix="sparktiles_mlc_", dir=tmp_base)
        try:
            b = TileBuild(spark, mlc_frames, BuildConfig(
                store_dir=store, minzoom=0, maxzoom=MAXZOOM,
                mid_zoom=min(5, MAXZOOM), gzip_level=GZIP_LEVEL))
            return b.build_fast()["tiles"]
        finally:
            shutil.rmtree(store, ignore_errors=True)

    dt, mlc_tiles = min_of(build_multilayer_capped)
    timings["tile_pyramid_3layer_capped"] = round(dt, 3)
    extra["tiles_3layer_capped"] = mlc_tiles
    extra["tiles_3layer_capped_per_s"] = round(mlc_tiles / dt, 1)

    # ---- attribute-heavy leg: 8 declared fields (the reference's real
    # layers carry 5-15, e.g. tests/testlayers/mountain_peak/
    # mountain_peak.yaml) — exercises the batch attribute-conversion
    # prep + per-tile dictionary encoding under realistic width
    from sparktiles.functions.scalars import clean_numeric

    feats8 = feats.select(
        "feature_id", "px", "py", "name", "class_src",
        clean_numeric(F.col("ele")).alias("ele_n"),
        F.col("rank_src").cast("double").alias("rank_n"),
        ((F.col("feature_id") % 100000) / 7.0).alias("pop"),
        (F.col("feature_id") % 5).cast("int").alias("layer_n"),
        (F.col("feature_id") % 2 == 0).alias("oneway"),
        F.format_string("R%d", F.col("feature_id") % 53).alias("ref"),
    )
    spec8 = LayerSpec(
        layer_id="poi", index=0,
        attr_fields={"name": "string", "class_src": "string",
                     "ele_n": "number", "rank_n": "number", "pop": "number",
                     "layer_n": "number", "oneway": "bool", "ref": "string"},
        buffer_px=8)

    def build_8attr():
        store = tempfile.mkdtemp(prefix="sparktiles_a8_", dir=tmp_base)
        try:
            b = TileBuild(spark, [(spec8, feats8)], BuildConfig(
                store_dir=store, minzoom=0, maxzoom=MAXZOOM,
                mid_zoom=min(5, MAXZOOM), gzip_level=GZIP_LEVEL))
            return b.build_fast()["tiles"]
        finally:
            shutil.rmtree(store, ignore_errors=True)

    dt, a8_tiles = min_of(build_8attr)
    timings["tile_pyramid_8attr"] = round(dt, 3)
    extra["tiles_8attr"] = a8_tiles
    extra["tiles_8attr_per_s"] = round(a8_tiles / dt, 1)

    # ---- attr-heavy WKB leg: 8 declared fields on the LINE/POLYGON
    # layers too (the reference's attribute-heavy layers are not just
    # points — e.g. tests/testlayers/mountain_peak carries 5+ fields on
    # real geometries): exercises _attr_convert_batch + the per-batch
    # Value-blob encode through the fused supercover WKB path and the
    # single-shuffle multi-layer assembly
    def wkb8(df):
        return df.select(
            "*",
            ((F.col("feature_id") % 100000) / 7.0).alias("pop"),
            (F.col("feature_id") % 5).cast("int").alias("layer_n"),
            (F.col("feature_id") % 2 == 0).alias("oneway"),
            F.format_string("R%d", F.col("feature_id") % 53).alias("ref"),
            (F.col("feature_id") % 900).cast("double").alias("ele_n"),
            F.format_string("net%d", F.col("feature_id") % 7).alias("network"),
        )

    wkb_attrs = {"class": "string", "name": "string", "pop": "number",
                 "layer_n": "number", "oneway": "bool", "ref": "string",
                 "ele_n": "number", "network": "string"}
    lines8 = wkb8(lines).cache()
    polys8 = wkb8(polys.withColumnRenamed("admin_class", "class")).cache()
    lines8.count(), polys8.count()
    ml8_frames = [
        (LayerSpec(layer_id="place", index=0, attr_fields={"name": "string"},
                   buffer_px=8), feats),
        (LayerSpec(layer_id="transportation", index=1, attr_fields=wkb_attrs,
                   buffer_px=4, geometry_kind="wkb"), lines8),
        (LayerSpec(layer_id="boundary", index=2, attr_fields=wkb_attrs,
                   buffer_px=4, geometry_kind="wkb"), polys8),
    ]

    def build_ml8():
        store = tempfile.mkdtemp(prefix="sparktiles_ml8_", dir=tmp_base)
        try:
            b = TileBuild(spark, ml8_frames, BuildConfig(
                store_dir=store, minzoom=0, maxzoom=MAXZOOM,
                mid_zoom=min(5, MAXZOOM), gzip_level=GZIP_LEVEL))
            return b.build_fast()["tiles"]
        finally:
            shutil.rmtree(store, ignore_errors=True)

    dt, ml8_tiles = min_of(build_ml8)
    timings["tile_pyramid_3layer_8attr"] = round(dt, 3)
    extra["tiles_3layer_8attr"] = ml8_tiles
    extra["tiles_3layer_8attr_per_s"] = round(ml8_tiles / dt, 1)

    # ---- representative operator queries. Forced through the noop
    # sink, NOT .count(): count() lets Catalyst prune — per-doc signal
    # columns no filter consumes are never computed, so a count-timed
    # leg can measure a row count of the scan instead of the operator
    # (gopher_repetition read 0.36 s under count() vs its real ~2 s;
    # see BENCH.md round-5 note before comparing to r4 legs).
    for name in [
        "tile_assign_points", "pip_join_broadcast", "knn_join",
        "dedup_exact", "dedup_minhash_lsh", "minhash_dedup_cc",
        "ann_cosine_topk", "text_quality_score", "variance_stats",
        "gopher_repetition", "dup_window_fraction", "semdedup_mapping",
        "pii_scrub", "url_canonical_dedup", "paragraph_dedup",
        "lm_quality_score", "bm25_topk", "exactsubstr_cut",
        "pack_sequences", "domain_temperature_resample",
        "inverted_index", "ngram_count_table",
        "perplexity_buckets", "kn_bigram_quality", "bpe_tokenize",
        "text_normalize", "leakage_safe_split",
        "domain_blocklist_filter", "corpus_stats", "source_mix_report",
        "tile_lang_entropy", "asof_join_events",
        "minhash_jaccard_verify", "dedup_keep_best",
        "winnowing_fingerprints", "dsir_importance", "bpe_pair_counts",
        "exact_group_quantiles",
        "winnowing_overlap_pairs", "quality_classifier_scores",
        "raster_tile_stats", "raster_polygonize_runs",
        "raster_pyramid_stats", "raster_merge_stats",
        "bloom_dedup_incremental",
    ]:
        fn = Q.QUERIES[name]
        dt, _ = min_of(
            lambda fn=fn: fn(spark, SF_DIR)
            .write.format("noop").mode("overwrite").save())
        timings[name] = round(dt, 3)

    total = round(sum(timings.values()), 3)
    print(json.dumps({
        "metric": "sparktiles_bench_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": SF_DIR,
        "cpus": CPUS,
        "maxzoom": MAXZOOM,
        "n_runs": N_RUNS,
        "n_features": n_feats,
        **extra,
    }))


if __name__ == "__main__":
    main()
