"""Diff-batch incremental re-tiling (T5/T8) + streaming ingest.

changed_features(old, new)    detect added/removed/updated urls (the
                              per-row invariant key); byte-level text
                              comparison via sha2 so unchanged rows
                              cost no re-tiling
expired_tiles(changed, z)     changed features -> their z14-style tile
                              list ('expired tiles' of import-update)
invalidation_list(...)        expired tiles -> all overlapping tiles
                              across the zoom range (tile_multiplier)
apply_incremental(...)        regenerate only invalidated tiles and
                              MERGE into the store (upsert keyed z/x/y)
stream_pages(...)             Structured Streaming reader over a page
                              directory with Trigger.AvailableNow —
                              each micro-batch runs the same diff path
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparktiles.operators.pyramid import assign_point_tiles, tile_multiplier


def changed_features(old_pages: DataFrame, new_pages: DataFrame,
                     old_hashes: DataFrame | None = None) -> DataFrame:
    """Rows whose text changed, appeared, or disappeared between two
    corpus snapshots; key = url (input_hint invariant). Output: url,
    change ('added'|'removed'|'updated').

    old_hashes: optional standing (url, h_old sha256-hex) table. At
    scale the ingest pipeline records the text hash alongside each row
    (an Iceberg column), so a diff pass reads the hash table instead of
    re-hashing the full old corpus — pass it here to skip that scan."""
    o = (old_hashes.select("url", "h_old") if old_hashes is not None
         else old_pages.select("url", F.sha2("text", 256).alias("h_old")))
    n = new_pages.select("url", F.sha2("text", 256).alias("h_new"))
    j = o.join(n, "url", "full_outer")
    return j.select(
        "url",
        F.when(F.col("h_old").isNull(), F.lit("added"))
        .when(F.col("h_new").isNull(), F.lit("removed"))
        .when(F.col("h_old") != F.col("h_new"), F.lit("updated"))
        .alias("change"),
    ).where(F.col("change").isNotNull())


def expired_tiles(features: DataFrame, zoom: int = 14) -> DataFrame:
    """Changed features -> distinct containing tiles at `zoom` (the
    imposm -expiretiles-zoom list, import-update:16-22)."""
    return (
        assign_point_tiles(features, zoom, 0.0)
        .select("z", "x", "y")
        .distinct()
    )


def invalidation_list(expired: DataFrame, minzoom: int, maxzoom: int) -> DataFrame:
    """Expired z14 tiles -> every overlapping tile in [minzoom, maxzoom]
    (T5)."""
    return tile_multiplier(expired, minzoom, maxzoom)


def merge_tile_map(existing: DataFrame, fresh: DataFrame,
                   invalidated: DataFrame) -> DataFrame:
    """MERGE INTO keyed (zoom_level, tile_column, tile_row): rows in the
    invalidation list are replaced by fresh rows (or dropped if the
    tile no longer exists); everything else passes through. On Iceberg
    this is a real MERGE; on parquet it's anti-join + union."""
    inv = invalidated.select(
        F.col("z").alias("zoom_level"),
        F.col("x").alias("tile_column"),
        F.col("y").alias("tile_row"),
    )
    keep = existing.join(inv, ["zoom_level", "tile_column", "tile_row"], "left_anti")
    return keep.unionByName(fresh)


def stream_pages(spark: SparkSession, path: str, schema: str | None = None):
    """Structured Streaming reader for a growing page directory;
    Trigger.AvailableNow processes everything present then stops —
    the batch-incremental execution mode of SURVEY §2.10."""
    schema = schema or (
        "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    return spark.readStream.schema(schema).parquet(path)


def run_incremental_retile(
    spark: SparkSession,
    old_pages: DataFrame,
    new_pages: DataFrame,
    build_features_fn,
    existing_map: DataFrame,
    minzoom: int,
    maxzoom: int,
    regenerate_fn,
    buffer_px: float = 0.0,
) -> DataFrame:
    """End-to-end incremental pass: diff -> invalidation -> regenerate
    only listed tiles -> merged tile_map. regenerate_fn(invalidation_df)
    -> fresh map rows covering exactly those tiles.

    Invalidation is the exact per-zoom BUFFERED assignment of every
    changed feature (old and new position/text), not the reference's
    z14-expired-list x tile_multiplier walk: a feature within
    buffer_px of a tile edge contributes to the neighbor tile's
    content, and the neighbor relation is zoom-dependent (the buffer
    is a fixed pixel width, so its meter width doubles per zoom step
    down) — a z14-granularity list propagated to ancestors misses
    cross-boundary buffered neighbors at lower zooms. expired_tiles /
    invalidation_list (T5/T8 reference parity) remain for the expired-
    list surface; this path guarantees merged == full-rebuild.

    build_features_fn must yield either point features (px/py mercator
    columns) or WKB features (geom binary column); the invalidation
    dispatches to the matching assignment (points: column math; WKB:
    supercover rasterization — same assigners the build itself uses,
    so invalidated == the tiles a full rebuild would touch).

    The invalidation list (z, x, y) is computed ONCE: it is eagerly
    local-checkpointed before regenerate_fn and the merge read it, so
    neither re-runs the diff, geoparse and assignment. Its blocks stay
    in executor storage for as long as the returned frame (which reads
    them) is referenced; Spark's ContextCleaner drops them after that,
    or the session's end does."""
    from sparktiles.operators.pyramid import (
        assign_point_tiles_multi,
        assign_supercover_tiles_multi,
    )

    diff = changed_features(old_pages, new_pages)
    touched = new_pages.join(diff.where(F.col("change") != "removed"), "url", "left_semi")
    old_touched = old_pages.join(
        diff.where(F.col("change") != "added"), "url", "left_semi")
    feats_new = build_features_fn(touched)
    feats_old = build_features_fn(old_touched)
    changed = feats_new.unionByName(feats_old.select(*feats_new.columns))
    if "geom" in changed.columns and "px" not in changed.columns:
        assigned = assign_supercover_tiles_multi(
            changed, minzoom, maxzoom, buffer_px=buffer_px)
    else:
        assigned = assign_point_tiles_multi(
            changed, minzoom, maxzoom, buffer_px=buffer_px)
    inv = assigned.select("z", "x", "y").distinct().localCheckpoint(eager=True)
    fresh = regenerate_fn(inv)
    return merge_tile_map(existing_map, fresh, inv)
