"""Skew utilities, density cap, lineage table."""

import pytest
from pyspark.sql import functions as F

from sparktiles.operators.skew import hot_keys, salted_agg


def test_salted_agg_matches_plain(spark):
    # skewed: key 0 holds 80% of rows
    df = spark.range(20000).select(
        F.when(F.col("id") % 5 != 0, 0).otherwise(F.col("id") % 97).alias("k"),
        (F.col("id") % 1000).cast("double").alias("v"),
    )
    plain = {(r.k): (r.cnt, r.total, r.mn, r.mx) for r in df.groupBy("k").agg(
        F.count("*").alias("cnt"), F.sum("v").alias("total"),
        F.min("v").alias("mn"), F.max("v").alias("mx")).collect()}
    salted = {(r.k): (r.cnt, r.total, r.mn, r.mx) for r in salted_agg(
        df, ["k"], {"cnt": "count", "total": "sum:v", "mn": "min:v", "mx": "max:v"},
        salt_buckets=16).collect()}
    assert plain == salted


def test_hot_keys(spark):
    df = spark.range(10000).select(
        F.when(F.col("id") % 2 == 0, 7).otherwise(F.col("id") % 500).alias("k"))
    hot = hot_keys(df, ["k"], threshold_ratio=50.0)
    ks = {r.k for r in hot.collect()}
    assert ks == {7}


def test_density_cap(spark):
    from mvt_oracle import oracle_tiles
    from sparktiles.operators.mvt import LayerSpec, encode_and_assemble_single
    from sparktiles.functions import mvtcodec as C

    # 500 features all in one z0 tile, importance = id
    feats = spark.range(500).select(
        F.lit(0).alias("z"), F.lit(0).cast("long").alias("x"),
        F.lit(0).cast("long").alias("y"),
        F.col("id").alias("feature_id"),
        F.lit(1000.0).alias("px"), F.lit(1000.0).alias("py"),
        F.col("id").cast("double").alias("imp"),
        F.format_string("n%d", F.col("id")).alias("name"),
    )
    spec = LayerSpec(
        layer_id="place", index=0, attr_fields={"name": "string"},
        max_features_per_tile=25, importance_col="imp",
    )
    out = encode_and_assemble_single(feats, spec, None).collect()
    assert len(out) == 1
    assert {(r.z, r.x, r.y): (bytes(r.mvt), r.tile_id) for r in out} == \
        oracle_tiles([(spec, feats.collect())])
    tile = C.decode_tile(bytes(out[0].mvt))
    kept = tile["place"]["features"]
    assert len(kept) == 25
    # highest importance kept (ids 475..499)
    ids = sorted(f["id"] for f in kept)
    assert ids == list(range(475, 500))


def test_lineage_table(spark, tmp_path):
    from sparktiles.plans.config import FieldDef, LayerDef, TilesetDef
    from sparktiles.plans.pipeline import (
        BuildConfig, TileBuild, make_point_layer_frames)
    from sparktiles.sources.geoparse import build_features
    from sparktiles.sources.pages import generate_pages

    feats = build_features(generate_pages(spark, 300))
    ts = TilesetDef(name="l", layers=[
        LayerDef(id="place", fields=[FieldDef("name")], buffer_size=0)],
        minzoom=0, maxzoom=3)
    b = TileBuild(spark, make_point_layer_frames(feats, ts), BuildConfig(
        store_dir=str(tmp_path / "s"), minzoom=0, maxzoom=3, mid_zoom=1))
    b.build_fast()
    lin = b.read_lineage()
    # lineage row counts reconcile with the tile map
    per_zoom = {r.zoom_level: r.total for r in lin.groupBy("zoom_level").agg(
        F.sum("n_rows").alias("total")).collect()}
    for z in range(4):
        assert per_zoom[z] == 4**z
    assert lin.where(F.col("partition_file") == "").count() == 0
